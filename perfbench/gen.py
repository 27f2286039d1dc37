"""Seeded workload inputs: corpus parquet files plus the oracle rows.

Every workload is drawn from the sf0.1 ``documents`` table of the
project's synthetic test data (TESTDATA.md); a byte-identical copy ships
as ``data/documents_sf0.1.parquet``. The
seed samples source rows with replacement and assigns fresh ``doc_id``s;
the ``doc_id`` then decides format, dpi, rotation, url suffix and the
heavy class under the rules in ``pypdfocr_spark/corpus.py``. About 1% of
the non-excluded payloads are then made malformed (non-document bytes, a
truncated SYNPDF, or a SYNPDF page line with invalid UTF-8).

File layout (fixed, independent of the program and of the machine):
the docs are cut, in generation order, into ``N_CHUNKS`` chunks; chunk
``i`` writes its light rows (payload <= HEAVY_PAYLOAD_BYTES) to
``corpus/light-i.parquet`` and its heavy rows to
``corpus/heavy-i.parquet``, each sorted by ``n_bytes``, one row group
per file, pyarrow defaults (snappy). ``light_web`` also writes
``stage/trickle-kkk.parquet``: one file per watch-trickle step, used by
the traced run's watch-mode layers.

The corpus is written here, never through ``pipeline.materialize_corpus``
or its ``/tmp`` cache, so a program change cannot move work into input
preparation. Built inputs are cached under the work dir, keyed on the
workload, the seed, ``GEN_VERSION`` and a hash of the program files that
decide payload bytes or oracle output (and of this file); any mismatch
rebuilds.
"""

from __future__ import annotations

import glob
import hashlib
import json
import multiprocessing as mp
import os
import pickle
import random
import shutil
import time
from multiprocessing import resource_tracker

GEN_VERSION = 1
N_CHUNKS = 8
MALFORMED_FRAC = 0.01
MALFORM_KINDS = ("garbage", "truncated", "badutf8")
KEEP_CACHED = 10  # cached input sets kept per workload

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_TABLE = os.path.join(HERE, "data", "documents_sf0.1.parquet")

# Program files whose content decides the corpus bytes or the oracle rows.
KEYED_FILES = (
    "pypdfocr_spark/corpus.py",
    "pypdfocr_spark/config.py",
    "pypdfocr_spark/kernels/codec.py",
    "pypdfocr_spark/kernels/hocr.py",
    "pypdfocr_spark/kernels/htmlx.py",
    "pypdfocr_spark/kernels/normalize.py",
    "pypdfocr_spark/kernels/route.py",
)

# Workload shapes. ``docs``: generated documents (excluded suffixes
# included); ``heavy_frac``: share of docs drawn from the heavy class
# (doc_id % 100 == 0, non-HTML, at least 10 source words, so 50-500
# pages); ``heavy_html_frac``: heavy-class HTML docs; ``files``/
# ``per_file``/``resent_frac``: the watch trickle of the traced run.
WORKLOADS = {
    "skew_tail": {"docs": 1_000, "heavy_frac": 0.05, "heavy_html_frac": 0.005},
    "light_web": {
        "docs": 12_000, "heavy_frac": 0.0, "heavy_html_frac": 0.0,
        "files": 4, "per_file": 50, "resent_frac": 0.1,
    },
}

CORPUS_FIELDS = ("url", "warc_ts", "html", "text", "lang", "n_bytes")


def _sha(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            data = f.read()
        h.update(len(data).to_bytes(8, "little") + data)
    return h.hexdigest()


def input_key(root: str, workload: str, seed: int, shape: dict) -> str:
    prog = _sha([os.path.join(root, p) for p in KEYED_FILES] + [SOURCE_TABLE, __file__])
    blob = json.dumps([GEN_VERSION, workload, seed, shape, prog], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


# ------------------------------------------------------------ doc specs
def _source_rows() -> list[tuple[str, str, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(SOURCE_TABLE, columns=["doc_id", "text", "lang", "source"])
    rows = sorted(zip(*(t.column(c).to_pylist() for c in ("doc_id", "text", "lang", "source"))))
    return [(text, lang, source) for _, text, lang, source in rows]


def _excluded(doc_id: int) -> bool:
    return doc_id % 10 in (3, 6)


def _specs(workload: str, seed: int, shape: dict, scale: float = 1.0) -> dict:
    """Doc specs ``(doc_id, text, lang, source, malform, param)`` for the
    corpus (and, for light_web, the trickle files)."""
    rng = random.Random(f"{workload}:{seed}")
    src = _source_rows()
    long_src = [r for r in src if len(r[0].split(" ")) >= 10]
    n = max(int(shape["docs"] * scale), 50)
    n_heavy = round(n * shape["heavy_frac"])
    n_heavy_html = round(n * shape["heavy_html_frac"])
    # fresh ids: one random block per seed; light ids skip the heavy
    # class (doc_id % 100 == 0), heavy ids are drawn inside it
    next_id = rng.randrange(1, 10**5) * 10**6 + 1

    def light_ids(k: int) -> list[int]:
        nonlocal next_id
        out = []
        while len(out) < k:
            if next_id % 100:
                out.append(next_id)
            next_id += 1
        return out

    ids = light_ids(n - n_heavy - n_heavy_html)
    base = (next_id // 300 + 1) * 300  # heavy-class block after the light ids
    heavy_pdf = [m for m in range(base, base + 300 * (n_heavy + 1), 100) if m % 3][:n_heavy]
    heavy_html = [base + 300 * (n_heavy + 1) + 300 * j for j in range(n_heavy_html)]
    docs = [(d, *rng.choice(src)) for d in ids]
    docs += [(d, *r) for d, r in zip(heavy_pdf, _stratified(rng, long_src, n_heavy))]
    docs += [(d, *rng.choice(long_src)) for d in heavy_html]
    rng.shuffle(docs)
    docs = _malform(rng, docs)

    out = {"corpus": docs, "trickle": []}
    if "files" in shape:
        next_id = base + 300 * (n_heavy + n_heavy_html + 2) + 1
        committed = [d for d in docs if not _excluded(d[0])]
        n_resent = round(shape["per_file"] * shape["resent_frac"])
        n_new = shape["per_file"] - n_resent
        new = [(d, *rng.choice(src)) for d in light_ids(n_new * shape["files"])]
        new = _malform(rng, new)
        for k in range(shape["files"]):
            out["trickle"].append(
                (new[k * n_new : (k + 1) * n_new], rng.sample(committed, n_resent))
            )
    return out


def _stratified(rng: random.Random, rows: list[tuple], k: int) -> list[tuple]:
    """``k`` rows, one drawn from each of ``k`` equal strata of ``rows``
    ordered by length, so the heavy docs' total page count barely moves
    from seed to seed while the docs themselves do."""
    rows = sorted(rows, key=lambda r: (len(r[0]), r))
    out = [rows[int(i * len(rows) / k + rng.random() * len(rows) / k)] for i in range(k)]
    rng.shuffle(out)
    return out


def _malform(rng: random.Random, docs: list[tuple]) -> list[tuple]:
    """Mark ~MALFORMED_FRAC of the non-excluded docs malformed, kinds in
    rotation so each kind appears. HTML docs only take ``garbage``."""
    cands = [i for i, d in enumerate(docs) if not _excluded(d[0])]
    k = max(round(len(cands) * MALFORMED_FRAC), 1)
    out = [d + (None, 0) for d in docs]
    for j, i in enumerate(sorted(rng.sample(cands, k))):
        kind = MALFORM_KINDS[j % len(MALFORM_KINDS)]
        if docs[i][0] % 3 == 0:
            kind = "garbage"  # an HTML payload (corpus.doc_url rules)
        out[i] = docs[i] + (kind, rng.getrandbits(32))
    return out


# ------------------------------------------------------------ row build
def _apply_malform(payload: bytes, kind: str | None, param: int) -> bytes:
    if kind is None:
        return payload
    r = random.Random(param)
    if kind == "garbage":
        body = bytes(r.randrange(256) for _ in range(r.randrange(64, 512)))
        return b"\x89BIN" + body  # starts with neither the SYNPDF magic nor '<'
    if kind == "truncated":
        cut = len(payload) - 1 - r.randrange(max(len(payload) // 3, 1))
        return payload[: max(cut, 12)]
    # badutf8: an invalid UTF-8 byte inside the last page's JSON line
    at = payload.rfind(b'"t":"') + 5
    return payload[:at] + b"\xff\xfe" + payload[at:]


def _build(spec: tuple) -> dict:
    from pypdfocr_spark import corpus as ck

    doc_id, text, lang, source, kind, param = spec
    row = ck.build_corpus_row(doc_id, text, lang, source)
    row["html"] = _apply_malform(row["html"], kind, param)
    row["n_bytes"] = len(row["html"])
    return row


def _write(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(rows, key=lambda r: (r["n_bytes"], r["url"]))
    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
            pa.field("html", pa.binary(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
            pa.field("n_bytes", pa.int64()),
        ]
    )
    cols = {f: [r[f] for r in rows] for f in CORPUS_FIELDS}
    pq.write_table(pa.table(cols, schema=schema), path)


def _chunk_task(task: tuple) -> tuple[list[dict], list[dict]]:
    """Worker: build one chunk's rows, write its files, return
    ``(oracle rows, per-doc info)``."""
    from pypdfocr_spark import corpus as ck
    from pypdfocr_spark.config import DEFAULT_ROUTE, DEFAULT_TARGETS, HEAVY_PAYLOAD_BYTES

    specs, light_path, heavy_path, with_oracle = task
    rows = [_build(s) for s in specs]
    if heavy_path is None:
        _write(rows, light_path)
    else:
        light = [r for r in rows if r["n_bytes"] <= HEAVY_PAYLOAD_BYTES]
        heavy = [r for r in rows if r["n_bytes"] > HEAVY_PAYLOAD_BYTES]
        _write(light, light_path)
        if heavy:
            _write(heavy, heavy_path)
    oracle = ck.oracle_extract(rows, DEFAULT_TARGETS, DEFAULT_ROUTE) if with_oracle else []
    info = [
        {"doc_id": s[0], "url": r["url"], "n_bytes": r["n_bytes"]}
        for s, r in zip(specs, rows)
    ]
    return oracle, info


def _chunks(xs: list, n: int) -> list[list]:
    k, m = divmod(len(xs), n)
    out, at = [], 0
    for i in range(n):
        step = k + (1 if i < m else 0)
        out.append(xs[at : at + step])
        at += step
    return [c for c in out if c]


# ------------------------------------------------------------ public
class Inputs:
    """A built input set: corpus dir, trickle files, oracle by url."""

    def __init__(self, path: str):
        self.path = path
        self.corpus_dir = os.path.join(path, "corpus")
        self.stage_dir = os.path.join(path, "stage")
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        self._oracle = None

    @property
    def oracle(self) -> dict[str, dict]:
        if self._oracle is None:
            with open(os.path.join(self.path, "oracle.pkl"), "rb") as f:
                self._oracle = pickle.load(f)  # written by build() below
        return self._oracle

    @property
    def trickle(self) -> list[dict]:
        return self.meta["trickle"]


def build(root: str, work: str, workload: str, seed: int, procs: int,
          scale: float = 1.0, cache: bool = True) -> tuple[Inputs, bool]:
    """Build (or reuse from cache) the inputs of ``workload`` at ``seed``.
    Returns ``(inputs, cache_hit)``."""
    shape = WORKLOADS[workload]
    key = input_key(root, workload, seed, {**shape, "scale": scale})
    cache_root = os.path.join(work, "inputs")
    path = os.path.join(cache_root, f"{workload}-s{seed}-{key}")
    if cache and os.path.exists(os.path.join(path, "meta.json")):
        os.utime(path)
        return Inputs(path), True
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "corpus"))
    t0 = time.monotonic()
    specs = _specs(workload, seed, shape, scale)
    tasks = [
        (c, os.path.join(tmp, "corpus", f"light-{i:02d}.parquet"),
         os.path.join(tmp, "corpus", f"heavy-{i:02d}.parquet"), True)
        for i, c in enumerate(_chunks(specs["corpus"], N_CHUNKS))
    ]
    if specs["trickle"]:
        os.makedirs(os.path.join(tmp, "stage"))
    for k, (new, resent) in enumerate(specs["trickle"]):
        mixed = sorted(new + resent)  # new and re-sent urls interleaved by doc_id
        tasks.append((mixed, os.path.join(tmp, "stage", f"trickle-{k:03d}.parquet"), None, True))
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs) as pool:
        results = pool.map(_chunk_task, tasks, chunksize=1)
    # the pool's resource tracker ignores SIGTERM and would otherwise
    # outlive the timed part; closing its pipe ends it now
    resource_tracker._resource_tracker._stop()
    oracle: dict[str, dict] = {}
    for rows, _ in results:
        for r in rows:
            oracle[r["url"]] = r
    n_corpus = len(tasks) - len(specs["trickle"])
    corpus_info = [d for _, info in results[:n_corpus] for d in info]
    trickle = []
    for k, (_, info) in enumerate(results[n_corpus:]):
        new_ids = {s[0] for s in specs["trickle"][k][0]}
        urls = [d["url"] for d in info]
        trickle.append({
            "file": f"trickle-{k:03d}.parquet",
            "urls": urls,
            "new_urls": [d["url"] for d in info if d["doc_id"] in new_ids],
        })
    files = sorted(os.listdir(os.path.join(tmp, "corpus")))
    meta = {
        "workload": workload, "seed": seed, "key": key, "gen_version": GEN_VERSION,
        "scale": scale, "gen_s": time.monotonic() - t0,
        "corpus_docs": len(corpus_info),
        "corpus_bytes": sum(os.path.getsize(os.path.join(tmp, "corpus", f)) for f in files),
        "payload_bytes": sum(d["n_bytes"] for d in corpus_info),
        "corpus_urls": [d["url"] for d in corpus_info],
        "files_sha256": {
            os.path.relpath(f, tmp): _sha([f])
            for f in sorted(glob.glob(os.path.join(tmp, "*", "*.parquet")))
        },
        "malformed": {k: sum(1 for s in specs["corpus"] if s[4] == k) for k in MALFORM_KINDS},
        "trickle": trickle,
    }
    with open(os.path.join(tmp, "oracle.pkl"), "wb") as f:
        pickle.dump(oracle, f, protocol=pickle.HIGHEST_PROTOCOL)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, path)
    _evict(cache_root, workload)
    return Inputs(path), False


def _evict(cache_root: str, workload: str) -> None:
    mine = [
        os.path.join(cache_root, d) for d in os.listdir(cache_root)
        if d.startswith(workload + "-s") and not d.endswith(".tmp")
    ]
    for old in sorted(mine, key=os.path.getmtime)[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
