"""Spark pipeline integration tests: byte-identity vs the pure-Python
oracle, skew path equivalence, lineage accounting, resume semantics.

This is the rebuild analog of the reference's end-to-end golden tests
(test/test_pypdfocr.py:51-83): run the real pipeline over a corpus,
assert the extracted text — here byte-identical per url, which is
strictly stronger than the reference's keyword-tolerant check.
"""

import glob
import os
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pypdfocr_spark import corpus as ck
from pypdfocr_spark import lineage, pipeline
from pypdfocr_spark.config import (
    DEFAULT_ROUTE,
    DEFAULT_TARGETS,
    HEAVY_PAYLOAD_BYTES,
    ExtractConfig,
)

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def oracle_rows():
    tbl = pq.read_table(f"{SF_SMOKE}/documents.parquet").to_pylist()
    rows = [
        ck.build_corpus_row(r["doc_id"], r["text"], r["lang"], r["source"]) for r in tbl
    ]
    return ck.oracle_extract(rows, DEFAULT_TARGETS, DEFAULT_ROUTE)


@pytest.fixture(scope="module")
def extracted(spark):
    df = pipeline.extract_from_documents(spark, SF_SMOKE, ExtractConfig())
    return {r["url"]: r.asDict() for r in df.collect()}


def test_byte_identity_per_url(oracle_rows, extracted):
    """Every url's extracted_text is byte-identical to the single-machine
    oracle — including the heavy docs that took the exploded page path."""
    assert len(extracted) == len(oracle_rows)
    for o in oracle_rows:
        s = extracted[o["url"]]
        assert s["extracted_text"] == o["extracted_text"], o["url"]
        assert s["extracted_norm"] == o["extracted_norm"], o["url"]
        assert s["route"] == o["route"], o["url"]
        assert s["n_pages"] == o["n_pages"], o["url"]
        assert s["status"] == o["status"], o["url"]


def test_heavy_docs_took_page_path(oracle_rows, extracted):
    heavy = [o for o in oracle_rows if o["n_pages"] > 50]
    assert heavy, "corpus must contain a skew tail"
    for o in heavy:
        assert extracted[o["url"]]["extracted_text"] == o["extracted_text"]


def test_source_filter_excludes_own_outputs(spark):
    df = pipeline.build_corpus_df(spark, SF_SMOKE)
    total = df.count()
    kept = pipeline.source_filter(df).count()
    assert total == 500 and kept == 400  # 20% _ocr.pdf/_test.pdf


def test_lineage_accounts_every_doc(spark, tmp_path):
    cfg = ExtractConfig()
    out = pipeline.extract_from_documents(spark, SF_SMOKE, cfg)
    stats = lineage.commit(out, str(tmp_path), run_id="r1")
    assert stats["run_id"] == "r1"
    lin = spark.read.parquet(f"{tmp_path}/lineage")
    agg = lin.agg(F.sum("doc_count").alias("n"), F.sum("byte_count").alias("b")).first()
    assert agg["n"] == 400
    assert agg["b"] > 0
    assert lin.where(F.col("run_id") != "r1").count() == 0


def test_resume_skips_committed(spark, tmp_path):
    cfg = ExtractConfig()
    corpus_df = pipeline.source_filter(pipeline.build_corpus_df(spark, SF_SMOKE))
    # commit the first half (by url hash), then resume over the full input
    first_half = corpus_df.where(F.xxhash64("url") % 2 == 0)
    lineage.commit(pipeline.extract(first_half, cfg), str(tmp_path), run_id="half")
    remaining = lineage.resume_filter(corpus_df, str(tmp_path))
    committed_n = first_half.count()
    assert remaining.count() == 400 - committed_n
    # nothing already committed reappears
    done = {r["url"] for r in spark.read.parquet(f"{tmp_path}/extracted").select("url").collect()}
    todo = {r["url"] for r in remaining.select("url").collect()}
    assert not (done & todo)


def test_resume_noop_without_snapshot(spark, tmp_path):
    corpus_df = pipeline.source_filter(pipeline.build_corpus_df(spark, SF_SMOKE))
    assert lineage.resume_filter(corpus_df, str(tmp_path / "nope")).count() == 400


def test_resume_raises_on_unreadable_snapshot(spark, tmp_path):
    """A committed extracted/ table whose part files are truncated is not
    "nothing committed": resume raises instead of re-running and
    re-appending the corpus, and the committed table is left as it was."""

    cfg = ExtractConfig()
    corpus_df = pipeline.source_filter(pipeline.build_corpus_df(spark, SF_SMOKE))
    out = str(tmp_path)
    lineage.commit(pipeline.extract(corpus_df.limit(20), cfg), out, run_id="r1")
    table = f"{out}/extracted"
    parts = [f for f in os.listdir(table) if f.endswith(".parquet")]
    for f in parts:
        with open(f"{table}/{f}", "r+b") as fh:
            fh.truncate(os.path.getsize(f"{table}/{f}") // 2)
    before = {d: sorted(os.listdir(f"{out}/{d}")) for d in ("extracted", "lineage")}
    with pytest.raises(Exception):
        remaining = lineage.resume_filter(corpus_df, out)
        lineage.commit(pipeline.extract(remaining, cfg), out, run_id="r2")
    assert {d: sorted(os.listdir(f"{out}/{d}")) for d in before} == before


def test_branch_independence(spark):
    """A document's output does not depend on which branch its size sends
    it to: with every doc on the heavy branch (heavy_payload_bytes=0) and
    with the default split, ``extract`` equals ``corpus.oracle_extract``
    row for row — over the real corpus (heavy tail included) and the
    failure fixtures (decode_error, unsupported, a late page route, the
    filename fallback, and a page whose hOCR does not parse)."""
    import datetime

    from pypdfocr_spark.kernels import codec
    from pypdfocr_spark.schema import CORPUS_SCHEMA

    pad = 300_000

    def page(word):
        return {"dpi": 300, "w_px": 2550, "h_px": 3300,
                "words": [{"t": word, "b": [10, 10, 80, 40], "l": 0}]}

    good_page, plain_page = page("spark window"), page("nothing-here")
    fixtures = [
        ("https://a.example/corrupt.pdf",
         codec.MAGIC + b'{"dpi":300,"words":[]}\n{garbage' + b"x" * pad),
        ("https://a.example/blob.bin", b"\x00\x01" + b"y" * pad),
        # routed via a page match on a late page (page-order reduction)
        ("https://a.example/late-route.pdf",
         codec.encode_doc([plain_page] * 200 + [good_page])),
        # no page match → filename fallback ('table' ∈ targets['storage'])
        ("https://a.example/table-report.pdf", codec.encode_doc([plain_page] * 200)),
        # the middle page's hOCR is not XML (a control character): that
        # page adds no text and the rest of the document goes on
        ("https://a.example/bad-xml-char.pdf",
         codec.encode_doc([plain_page, page("x\u0001y"), good_page])),
    ]
    tbl = pq.read_table(f"{SF_SMOKE}/documents.parquet").to_pylist()
    rows = [{"url": u, "html": p} for u, p in fixtures] + [
        ck.build_corpus_row(r["doc_id"], r["text"], r["lang"], r["source"]) for r in tbl
    ]
    cols = ["url", "extracted_text", "extracted_norm", "route", "n_pages", "status"]
    want = sorted(
        tuple(o[c] for c in cols)
        for o in ck.oracle_extract(rows, DEFAULT_TARGETS, DEFAULT_ROUTE)
    )
    ts = datetime.datetime(2024, 1, 1)
    corpus_df = spark.createDataFrame(
        [(r["url"], ts, r["html"], "", "en", len(r["html"])) for r in rows], CORPUS_SCHEMA
    )
    for cfg in (ExtractConfig(heavy_payload_bytes=0), ExtractConfig()):
        got = sorted(map(tuple, pipeline.extract(corpus_df, cfg).select(cols).collect()))
        assert got == want, cfg.heavy_payload_bytes
    by_url = {r[0]: dict(zip(cols, r)) for r in want}
    assert by_url["https://a.example/late-route.pdf"]["route"] == "spark_docs"
    assert by_url["https://a.example/table-report.pdf"]["route"] == "storage"
    assert by_url["https://a.example/corrupt.pdf"]["status"] == "decode_error"
    bad_xml = by_url["https://a.example/bad-xml-char.pdf"]
    assert (bad_xml["n_pages"], bad_xml["status"], bad_xml["route"]) == (3, "ok", "spark_docs")
    assert bad_xml["extracted_text"] == "nothing-here\n\nspark window"


def _raise_on_call(real, bad_call):
    calls = []

    def kernel(*args, **kw):
        calls.append(1)
        if len(calls) == bad_call:
            raise RuntimeError("injected")
        return real(*args, **kw)

    return kernel


@pytest.mark.parametrize("bad_call", [1, 2])
def test_extract_rows_kernel_error_is_a_row(monkeypatch, bad_call):
    """A light-branch kernel that raises on the first or a middle row of a
    batch yields an error row with no text; its neighbours are unchanged
    and the task does not fail."""
    rows = [
        ck.build_corpus_row(d, "spark column window row data", "en", "s") for d in (1, 2, 4)
    ]
    pdf = pd.DataFrame(rows)
    cfg = ExtractConfig()
    want = pipeline._extract_rows(pdf, cfg)
    monkeypatch.setattr(pipeline, "_doc_kernel", _raise_on_call(pipeline._doc_kernel, bad_call))
    got = pipeline._extract_rows(pdf, cfg)
    bad = got.iloc[bad_call - 1]
    assert (bad["extracted_text"], bad["extracted_norm"]) == ("", "")
    assert (bad["n_pages"], bad["status"]) == (0, "error:RuntimeError")
    cols = ["url", "extracted_text", "extracted_norm", "route", "n_pages", "status"]
    keep = [i for i in range(len(rows)) if i != bad_call - 1]
    assert got[cols].iloc[keep].values.tolist() == want[cols].iloc[keep].values.tolist()


@pytest.mark.parametrize("bad_call", [1, 2])
def test_page_text_rows_kernel_error_is_a_row(spark, monkeypatch, bad_call):
    """The heavy-branch page kernel raising on the first or a middle page
    row yields an error page row; after JVM reassembly its document reads
    (extracted_norm='', n_pages=0, status='error:<Type>') and the other
    documents are unchanged."""
    from pypdfocr_spark.schema import PAGE_TEXT_SCHEMA

    rows = [
        ck.build_corpus_row(d, "spark column window row data", "en", "s") for d in (1, 2, 4)
    ]
    cfg = ExtractConfig()
    pages = pipeline._explode_rows(pd.DataFrame(rows), cfg)
    assert len(pages) == 3

    def docs(page_rows):
        df = spark.createDataFrame(page_rows, PAGE_TEXT_SCHEMA)
        out = pipeline._jvm_reassemble(df, cfg).drop("wall_ms", "warc_ts").collect()
        return {r["url"]: r.asDict() for r in out}

    want = docs(pipeline._page_text_rows(pages, cfg))
    monkeypatch.setattr(ck, "page_text", _raise_on_call(ck.page_text, bad_call))
    got_pages = pipeline._page_text_rows(pages, cfg)
    bad_page = got_pages.iloc[bad_call - 1]
    assert (bad_page["page_text"], bad_page["norm_text"]) == ("", "")
    assert bad_page["status"] == "error:RuntimeError"
    got = docs(got_pages)
    bad_url = pages["url"].iloc[bad_call - 1]
    assert got[bad_url]["extracted_norm"] == "" and got[bad_url]["extracted_text"] == ""
    assert (got[bad_url]["n_pages"], got[bad_url]["status"]) == (0, "error:RuntimeError")
    assert {u: r for u, r in got.items() if u != bad_url} == {
        u: r for u, r in want.items() if u != bad_url
    }


def test_heavy_path_failures_reach_status_and_lineage(spark):
    """A failing HEAVY document must surface a non-ok status (and thus a
    lineage failure), not be silently committed as ok — per-page statuses
    ride the salted shuffle and reassemble to the first non-ok status."""
    import datetime

    from pypdfocr_spark.kernels import codec
    from pypdfocr_spark.schema import CORPUS_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    pad = 300_000  # > heavy_payload_bytes → heavy branch
    good_page = {"dpi": 300, "w_px": 2550, "h_px": 3300,
                 "words": [{"t": "hello", "b": [10, 10, 80, 40], "l": 0}]}
    rows = [
        # corrupt SYNPDF: valid magic, garbage page JSON on page 2
        ("https://a.example/corrupt.pdf", ts,
         codec.MAGIC + b'{"dpi":300,"words":[]}\n{garbage' + b"x" * pad, "", "en"),
        # non-HTML garbage payload → unsupported
        ("https://a.example/blob.bin", ts, b"\x00\x01" + b"y" * pad, "", "en"),
        # huge HTML → ok via boilerplate strip
        ("https://a.example/big.html", ts,
         b"<html><body><p>" + b"word " * (pad // 5) + b"</p></body></html>", "", "en"),
        # valid multi-page SYNPDF padded heavy via many pages
        ("https://a.example/good.pdf", ts,
         codec.encode_doc([good_page] * 400), "", "en"),
    ]
    corpus_df = spark.createDataFrame(
        [(u, t, p, x, l, len(p)) for (u, t, p, x, l) in rows], CORPUS_SCHEMA
    )
    out = {r["url"]: r.asDict() for r in pipeline.extract(corpus_df, ExtractConfig()).collect()}
    assert out["https://a.example/corrupt.pdf"]["status"] == "decode_error"
    assert out["https://a.example/corrupt.pdf"]["extracted_text"] == ""
    assert out["https://a.example/corrupt.pdf"]["n_pages"] == 0
    assert out["https://a.example/blob.bin"]["status"] == "unsupported"
    assert out["https://a.example/big.html"]["status"] == "ok"
    assert "word" in out["https://a.example/big.html"]["extracted_text"]
    assert out["https://a.example/good.pdf"]["status"] == "ok"
    assert out["https://a.example/good.pdf"]["n_pages"] == 400

    extracted = pipeline.extract(corpus_df, ExtractConfig())
    lin = lineage.lineage_rows(extracted, run_id="t").collect()
    failed = {u for r in lin for u in r["failures"]}
    assert "https://a.example/corrupt.pdf" in failed
    assert "https://a.example/blob.bin" in failed
    assert "https://a.example/good.pdf" not in failed


def test_materialize_corpus_size_class_file_layout(spark, tmp_path):
    """r6 layout: light and heavy rows land in DISJOINT files (each
    file's n_bytes range sits entirely on one side of the threshold, so
    the branches' pushed filters prune at file level), and the reader
    returns exactly the same row set as the direct corpus build."""
    path = str(tmp_path / "corpus")
    out = pipeline.materialize_corpus(spark, "/root/testdata/sf0.001", path)
    direct = pipeline.build_corpus_df(spark, "/root/testdata/sf0.001")
    assert sorted(r["url"] for r in out.select("url").collect()) == sorted(
        r["url"] for r in direct.select("url").collect()
    )
    mixed = _size_class_mixed_files(path)
    assert mixed == [], f"files mixing size classes: {mixed}"


def test_corpus_in_another_layout_is_rebuilt(spark, tmp_path):
    """A cached corpus directory written in another layout (here one file
    holding both size classes) and carrying no layout tag is rebuilt in the
    size-class file layout; once tagged it is reused as is."""
    path = str(tmp_path / "corpus")
    pipeline.build_corpus_df(spark, SF_SMOKE).coalesce(1).write.parquet(path)
    assert _size_class_mixed_files(path), "precondition: a mixed-layout corpus"
    out = pipeline.extract_from_documents(spark, SF_SMOKE, ExtractConfig(), corpus_path=path)
    mixed = _size_class_mixed_files(path)
    assert mixed == [], f"files mixing size classes: {mixed}"
    files = sorted(os.listdir(path))
    pipeline.extract_from_documents(spark, SF_SMOKE, ExtractConfig(), corpus_path=path)
    assert sorted(os.listdir(path)) == files
    assert out.count() == 400


def test_commit_unpersists_when_write_fails(spark, tmp_path, monkeypatch):
    """A failed write (one failed --watch micro-batch) re-raises and leaves
    no cached DataFrame behind."""
    from pypdfocr_spark import catalog

    def failing_append(*args, **kw):
        raise RuntimeError("injected write failure")

    df = spark.range(3).withColumn("status", F.lit("ok"))
    monkeypatch.setattr(catalog, "append", failing_append)
    with pytest.raises(RuntimeError, match="injected"):
        lineage.commit(df, str(tmp_path))
    assert not df.is_cached


def _slow_for(real, slow_arg, seconds=0.05):
    """``real`` that first sleeps ``seconds`` when its first argument is
    ``slow_arg``."""

    def kernel(first, *args, **kw):
        if first == slow_arg:
            time.sleep(seconds)
        return real(first, *args, **kw)

    return kernel


@pytest.mark.parametrize("branch", ["light", "heavy"])
def test_wall_ms_is_per_document(monkeypatch, branch):
    """wall_ms times each document (light) or page spec (heavy) on its
    own: one slow document in a 4-row batch is the only slow row."""
    rows = [
        ck.build_corpus_row(d, "spark column window row data", "en", "s") for d in (1, 2, 4, 5)
    ]
    pdf = pd.DataFrame(rows)
    cfg = ExtractConfig()
    slow = 2
    if branch == "light":
        slow_payload = bytes(pdf["html"].iloc[slow])
        monkeypatch.setattr(pipeline, "_doc_kernel", _slow_for(pipeline._doc_kernel, slow_payload))
        got = pipeline._extract_rows(pdf, cfg)
    else:
        pages = pipeline._explode_rows(pdf, cfg)
        assert list(pages["url"]) == list(pdf["url"])  # one page each
        spec = (pages["page_kind"].iloc[slow], pages["page_json"].iloc[slow])
        monkeypatch.setattr(ck, "page_text", _slow_for(ck.page_text, spec))
        got = pipeline._page_text_rows(pages, cfg)
    assert list(got["url"]) == list(pdf["url"])
    assert got["wall_ms"].iloc[slow] >= 50
    assert all(w < 25 for i, w in enumerate(got["wall_ms"]) if i != slow)


def _size_class_mixed_files(path):
    """Parquet files under ``path`` whose n_bytes range straddles the
    light/heavy threshold, as (file, min, max)."""
    mixed = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for i in range(g.num_columns):
                c = g.column(i)
                if c.path_in_schema == "n_bytes":
                    lo, hi = c.statistics.min, c.statistics.max
                    if lo <= HEAVY_PAYLOAD_BYTES < hi:
                        mixed.append((f, lo, hi))
    return mixed
