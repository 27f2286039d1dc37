"""The traced run (``--trace 1``): per-layer numbers for one workload.

Three parts, all driven from outside the program:

* **Spans** around every call into a module's public functions
  (``session``, ``catalog``, ``pipeline``, ``lineage``, ``stream``),
  kept in memory and written to ``.perfbench_work/traces/`` when the
  run ends. Calls made by the program itself (``cli.main`` calling
  ``pipeline.extract``, ``lineage.commit`` calling ``catalog.append``,
  the watch batch calling ``lineage.resume_filter``) are wrapped by
  replacing the module attribute, so the program is not edited.
* **Spark event log**, switched on only for this run's second JVM with
  launch-time conf (``PYSPARK_SUBMIT_ARGS``). It gives per-plan-node SQL
  metrics and per-task run times; a node the parser expects and does not
  find raises instead of reading as zero.
* **Kernel timer**: the extraction kernels on the workload's own
  payloads in this process, without Spark.

The run first makes an untraced batch job in a fresh JVM without the
event log, so ``tracing_overhead_frac`` compares like with like.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import random
import statistics
import threading
from time import perf_counter

import check
import harness
import run

N_JOB_REPS = 2
N_WARMUP_JOBS = 1  # in each of the run's two JVMs, so their job walls compare
LAYER_REPS = 2
KERNEL_MAX_DOCS = 800
KERNEL_MAX_PAGES = 4000
N_TRACE_FILES = 3  # watch files in the traced light_web run


# ------------------------------------------------------------ spans
class Tracer:
    """In-memory spans: name, start, end, parent, run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._t0 = perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, fn, *args, **kwargs):
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append({"id": sid, "name": name, "parent": parent, "run": self.run_id})
            self._stack.append(sid)
            self.spans[sid]["start"] = perf_counter() - self._t0
        try:
            return fn(*args, **kwargs)
        finally:
            with self._lock:
                self.spans[sid]["end"] = perf_counter() - self._t0
                self._stack.remove(sid)

    def timed(self, name: str, fn, *args, **kwargs) -> tuple[float, object]:
        t0 = perf_counter()
        out = self.span(name, fn, *args, **kwargs)
        return perf_counter() - t0, out

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ kernels
def kernel_timer(ctx: run.Ctx) -> dict:
    """Phase times of the extraction kernels over a seeded prefix of the
    workload's non-excluded payloads (at most KERNEL_MAX_DOCS docs or
    KERNEL_MAX_PAGES pages), one process, no Spark. The phases replay
    ``corpus.extract_doc``'s steps through the kernels' public functions;
    ``corpus.phase_residual_frac`` is how far their sum falls short of
    timing ``extract_doc`` itself on the same docs."""
    import pyarrow.parquet as pq

    from pypdfocr_spark import corpus as ck
    from pypdfocr_spark.config import DEFAULT_ROUTE, DEFAULT_TARGETS
    from pypdfocr_spark.kernels import codec, hocr, htmlx
    from pypdfocr_spark.kernels.normalize import normalize_page_text
    from pypdfocr_spark.kernels.route import route_document

    docs = []
    for f in sorted(glob.glob(os.path.join(ctx.inputs.corpus_dir, "*.parquet"))):
        docs += pq.read_table(f, columns=["url", "html"]).to_pylist()
    docs = [d for d in docs if not d["url"].endswith(ck.EXCLUDED_SUFFIXES)]
    random.Random(ctx.seed).shuffle(docs)
    oracle = ctx.inputs.oracle
    sample, pages = [], 0
    for d in docs:
        if len(sample) >= KERNEL_MAX_DOCS or pages >= KERNEL_MAX_PAGES:
            break
        sample.append(d)
        pages += oracle[d["url"]]["n_pages"]

    t = dict.fromkeys(
        ("extract", "decode", "geometry", "raster", "emit", "parse", "strip", "norm", "route"), 0.0
    )
    n = dict.fromkeys(("pdf", "pages", "html", "norm_pages"), 0)
    for d in sample[:50]:  # warm the interpreter's caches
        ck.extract_doc(d["html"])
    for d in sample:
        payload = d["html"]
        t0 = perf_counter()
        ck.extract_doc(payload)
        t["extract"] += perf_counter() - t0

        texts: list[str] = []
        if codec.is_syn_pdf(payload):
            n["pdf"] += 1
            t0 = perf_counter()
            pdf_pages = codec.decode_doc(payload)
            t1 = perf_counter()
            t["decode"] += t1 - t0
            if pdf_pages:
                geom = codec.detect_geometry(pdf_pages)
                t2 = perf_counter()
                raster = codec.rasterize(pdf_pages, geom["output_dpi"])
                t3 = perf_counter()
                doc = hocr.emit_hocr(raster)
                t4 = perf_counter()
                texts = hocr.page_texts_from_hocr(doc)
                t5 = perf_counter()
                t["geometry"] += t2 - t1
                t["raster"] += t3 - t2
                t["emit"] += t4 - t3
                t["parse"] += t5 - t4
                n["pages"] += len(pdf_pages)
        else:
            head = payload.lstrip()[:15].lower()
            if head.startswith(b"<!doctype") or head.startswith(b"<html"):
                n["html"] += 1
                t0 = perf_counter()
                texts = [htmlx.strip_boilerplate(payload.decode("utf-8", errors="replace"))]
                t["strip"] += perf_counter() - t0
        t0 = perf_counter()
        norms = [normalize_page_text(p) for p in texts]
        t1 = perf_counter()
        route_document(norms, d["url"], DEFAULT_TARGETS, use_filename=True, default=DEFAULT_ROUTE)
        t["route"] += perf_counter() - t1
        t["norm"] += t1 - t0
        n["norm_pages"] += len(texts)

    phases = sum(t[k] for k in ("decode", "geometry", "raster", "emit", "parse", "strip"))

    def ms(k: str, denom: int) -> float:
        return 1000.0 * t[k] / max(denom, 1)

    return {
        "corpus.extract_doc_ms_per_doc": ms("extract", len(sample)),
        "kernels.codec.decode_ms_per_doc": ms("decode", n["pdf"]),
        "kernels.codec.geometry_ms_per_doc": ms("geometry", n["pdf"]),
        "kernels.codec.rasterize_ms_per_page": ms("raster", n["pages"]),
        "kernels.hocr.emit_ms_per_page": ms("emit", n["pages"]),
        "kernels.hocr.parse_ms_per_page": ms("parse", n["pages"]),
        "kernels.htmlx.strip_ms_per_doc": ms("strip", n["html"]),
        "kernels.normalize.ms_per_page": ms("norm", n["norm_pages"]),
        "kernels.route.ms_per_doc": ms("route", len(sample)),
        "corpus.phase_residual_frac": 1.0 - phases / t["extract"],
        "_kernel_sample": {"docs": len(sample), **n},
    }


# ------------------------------------------------------------ event log
def _read_events(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".crc")]
    if len(files) != 1:
        raise RuntimeError(f"event log: expected one log file in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _classify(node: dict) -> str | None:
    name, s = node["nodeName"], node["simpleString"]
    if name == "MapInPandas":  # by output columns; the page kernel's input has page_json too
        if "route_match#" in s:
            return "page"
        if "page_json#" in s:
            return "explode"
        if "extracted_text#" in s:
            return "light"
    if name == "Exchange":
        if "xxhash64(" in s:
            return "salt_exchange"
        if "hashpartitioning(url#" in s:
            return "reassembly_exchange"
    if name == "ObjectHashAggregate" and "functions=[collect_list(" in s:
        return "reassembly_agg"
    if name.startswith("Scan parquet"):
        return "scan"
    return None


class EventLog:
    """Per-execution SQL node metrics and task metrics from one event log."""

    def __init__(self, log_dir: str) -> None:
        events = _read_events(log_dir)
        self.exec_by_desc: dict[str, int] = {}
        self.nodes: dict[int, dict[str, dict[str, set[int]]]] = {}  # exec → role → metric → acc ids
        self.acc: dict[int, float] = {}
        stage_exec: dict[int, int] = {}
        self.tasks: list[dict] = []
        for e in events:
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                self.exec_by_desc[e["description"]] = e["executionId"]
                self._add_plan(e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                self._add_plan(e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("DriverAccumUpdates"):
                for acc_id, v in e["accumUpdates"]:
                    self.acc[acc_id] = self.acc.get(acc_id, 0.0) + float(v)
            elif ev == "SparkListenerJobStart":
                eid = e.get("Properties", {}).get("spark.sql.execution.id")
                if eid is not None:
                    for sid in e["Stage IDs"]:
                        stage_exec[sid] = int(eid)
            elif ev == "SparkListenerTaskEnd":
                info = e["Task Info"]
                updates = {}
                for a in info.get("Accumulables", []):
                    if "Update" in a:
                        try:
                            updates[a["ID"]] = float(a["Update"])
                        except (TypeError, ValueError):
                            continue
                for acc_id, v in updates.items():
                    self.acc[acc_id] = self.acc.get(acc_id, 0.0) + v
                self.tasks.append({
                    "exec": stage_exec.get(e["Stage ID"]),
                    "run_ms": (e.get("Task Metrics") or {}).get("Executor Run Time", 0),
                    "accs": set(updates),
                })

    def _add_plan(self, eid: int, plan: dict) -> None:
        roles = self.nodes.setdefault(eid, {})
        for node in _walk(plan):
            role = _classify(node)
            if role is None:
                continue
            metrics = roles.setdefault(role, {})
            for m in node["metrics"]:
                metrics.setdefault(m["name"], set()).add(m["accumulatorId"])

    def execution(self, desc: str) -> int:
        if desc not in self.exec_by_desc:
            raise RuntimeError(f"event log: no SQL execution described {desc!r}")
        return self.exec_by_desc[desc]

    def metric(self, eid: int, role: str, name: str) -> float:
        roles = self.nodes.get(eid, {})
        if role not in roles or name not in roles[role]:
            raise RuntimeError(f"event log: node {role!r} metric {name!r} not in execution {eid}")
        return sum(self.acc.get(a, 0.0) for a in roles[role][name])

    def role_tasks(self, eid: int, role: str) -> list[dict]:
        accs = set().union(*self.nodes[eid][role].values())
        return [t for t in self.tasks if t["exec"] == eid and t["accs"] & accs]


def pipeline_metrics(log: EventLog) -> dict:
    eid = log.execution("perfbench:pipeline.extract")
    mb = 1 / (1024 * 1024)
    sent = "data sent to Python workers"
    back = "data returned from Python workers"
    page_runs = sorted(t["run_ms"] for t in log.role_tasks(eid, "page"))
    heavy_tasks = {id(t): t for r in ("explode", "page") for t in log.role_tasks(eid, r)}
    return {
        "pipeline.arrow_sent_mb.light": log.metric(eid, "light", sent) * mb,
        "pipeline.arrow_sent_mb.heavy":
            (log.metric(eid, "explode", sent) + log.metric(eid, "page", sent)) * mb,
        "pipeline.arrow_returned_mb.light": log.metric(eid, "light", back) * mb,
        "pipeline.arrow_returned_mb.heavy":
            (log.metric(eid, "explode", back) + log.metric(eid, "page", back)) * mb,
        "pipeline.salt_shuffle_mb": log.metric(eid, "salt_exchange", "shuffle bytes written") * mb,
        "pipeline.reassembly_shuffle_mb":
            log.metric(eid, "reassembly_exchange", "shuffle bytes written") * mb,
        "pipeline.reassembly_agg_s": log.metric(eid, "reassembly_agg", "time in aggregation build") / 1000,
        "pipeline.page_rows": log.metric(eid, "explode", "number of output rows"),
        "pipeline.python_task_s.light": sum(t["run_ms"] for t in log.role_tasks(eid, "light")) / 1000,
        "pipeline.python_task_s.heavy": sum(t["run_ms"] for t in heavy_tasks.values()) / 1000,
        # max/median run time of the page-kernel tasks; 0 when the
        # heavy branch had no rows and AQE dropped the page stage
        "pipeline.page_task_skew":
            page_runs[-1] / max(statistics.median(page_runs), 1) if page_runs else 0.0,
    }


# ------------------------------------------------------------ the run
def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def untraced_jobs(ctx: run.Ctx) -> list[float]:
    """Set-up and N_JOB_REPS batch jobs in a JVM without the event log."""
    host = harness.SparkHost()
    try:
        run.setup(ctx, host, N_WARMUP_JOBS)
        return [run.cli_batch(ctx.inputs.corpus_dir, ctx.path(f"u-out-{i}"))
                for i in range(N_JOB_REPS)]
    finally:
        host.stop()


def run_traced(ctx: run.Ctx) -> dict:
    from pyspark.sql import functions as F

    from pypdfocr_spark import catalog, lineage, pipeline, session, stream
    from pypdfocr_spark.config import HEAVY_PAYLOAD_BYTES
    from pypdfocr_spark.schema import CORPUS_SCHEMA

    m: dict = {}
    kern = kernel_timer(ctx)
    ctx.details["kernel_sample"] = kern.pop("_kernel_sample")
    m.update(kern)

    untraced_walls = untraced_jobs(ctx)

    tracer = Tracer(f"{ctx.workload}-s{ctx.seed}-{os.getpid()}")
    for mod, attr in ((pipeline, "extract"), (lineage, "commit"), (lineage, "resume_filter"),
                      (catalog, "append"), (catalog, "read"), (stream, "watch_extract"),
                      (stream, "extract")):
        tracer.wrap(mod, attr, f"{mod.__name__.rsplit('.', 1)[1]}.{attr}")
    tracer.wrap(session, "get_spark", "session.get_spark")
    log_dir = ctx.path("eventlog")
    os.makedirs(log_dir)
    host = harness.SparkHost()
    corpus = ctx.inputs.corpus_dir  # light_web: also the base the watch files append to
    try:
        tracer.span("session.start", host.start, "perfbench-traced", log_dir)
        spark = host.spark
        ctx.details["env"] = run.environment(spark)
        tracer.span("setup.warmup", run.warm_up, ctx, "t-warm", N_WARMUP_JOBS)

        traced_walls = [
            tracer.timed("perfbench:cli.main", run.cli_batch, corpus, ctx.path(f"t-out-{i}"))[0]
            for i in range(N_JOB_REPS)
        ]
        job_out = ctx.path("t-out-0")

        def layer(name: str, fn) -> None:
            """Median over LAYER_REPS runs of ``fn``, each a described job."""
            walls = []
            for _ in range(LAYER_REPS):
                spark.sparkContext.setJobDescription(f"perfbench:{name}")
                try:
                    walls.append(tracer.timed(f"perfbench:{name}", fn)[0])
                finally:
                    spark.sparkContext.setJobDescription(None)
            m[f"{name}_s"] = statistics.median(walls)

        def read():
            return catalog.read(spark, corpus)

        light = F.col("n_bytes").isNull() | (F.col("n_bytes") <= HEAVY_PAYLOAD_BYTES)
        heavy = F.col("n_bytes") > HEAVY_PAYLOAD_BYTES
        # a bare noop write lets the vectorized reader skip the column
        # data, so the scan hashes every column to make it read them
        layer("catalog.read", lambda: noop(read().select(F.xxhash64(*CORPUS_SCHEMA.names))))
        layer("session.arrow_roundtrip", lambda: noop(
            pipeline.source_filter(read()).where(light).mapInPandas(lambda it: it, CORPUS_SCHEMA)))
        layer("pipeline.extract", lambda: noop(pipeline.extract(read())))
        layer("pipeline.extract.light", lambda: noop(pipeline.extract(read().where(light))))
        layer("pipeline.extract.heavy", lambda: noop(pipeline.extract(read().where(heavy))))
        src = pipeline.source_filter(read())
        m["pipeline.docs.light"] = src.where(light).count()
        m["pipeline.docs.heavy"] = src.where(heavy).count()

        # commit and append of a pre-materialized extract: the traced job's output
        pre = catalog.read(spark, f"{job_out}/extracted")
        commits, appends = itertools.count(), itertools.count()
        layer("lineage.commit", lambda: lineage.commit(pre, ctx.path(f"t-commit-{next(commits)}")))
        layer("catalog.append",
              lambda: catalog.append(pre, ctx.path(f"t-append-{next(appends)}", "extracted")))
        m["catalog.bytes_written_per_input_byte"] = (
            dir_bytes(ctx.path("t-append-0", "extracted")) / ctx.inputs.meta["corpus_bytes"])

        if ctx.workload == "light_web":
            attempted, failed, statuses = traced_trickle(ctx, tracer, spark, job_out)
            probe = os.path.join(ctx.inputs.stage_dir, ctx.inputs.trickle[N_TRACE_FILES]["file"])
        else:
            attempted, failed, statuses = traced_stream(ctx, tracer, spark)
            probe = corpus
        probe_df = catalog.read(spark, probe)
        layer("lineage.resume_filter", lambda: noop(lineage.resume_filter(probe_df, job_out)))
        m["lineage.resume_kept_frac"] = (
            lineage.resume_filter(probe_df, job_out).count() / probe_df.count())
    finally:
        host.stop()
        tracer.unwrap_all()

    log = EventLog(log_dir)
    m.update(pipeline_metrics(log))
    # file bytes the scan selected; the task input-bytes counter misses
    # most of what the parquet reader reads here
    read_eid = log.execution("perfbench:catalog.read")
    m["catalog.read_mb"] = log.metric(read_eid, "scan", "size of files read") / (1024 * 1024)
    m["session.start_s"] = ctx.details["setup"]["get_spark_s"]  # the untraced JVM
    m["stream.query_start_s"] = statistics.median(tracer.durations("stream.watch_extract"))
    m["stream.batch_s"] = statistics.median(tracer.durations("stream.batch"))

    job_wall = statistics.median(traced_walls)
    m["layer_gap_frac"] = 1.0 - (
        m["pipeline.extract.light_s"] + m["pipeline.extract.heavy_s"] + m["lineage.commit_s"]
    ) / job_wall
    m["tracing_overhead_frac"] = job_wall / statistics.median(untraced_walls) - 1.0

    # output check on every traced job and on the watch or stream output;
    # status counts from the last job's output (the first one's also
    # carries the traced watch files on light_web)
    oracle = ctx.inputs.oracle
    expected = [u for u in ctx.inputs.meta["corpus_urls"] if u in oracle]
    mismatches = statuses["mismatches"]
    for i in range(N_JOB_REPS):
        res = check.check(check.read_committed(ctx.path(f"t-out-{i}")), oracle)
        mismatches += len(res.mismatches)
        attempted += len(expected)
        failed += len(res.failed(expected))
    for k in ("ok", "decode_error", "unsupported", "html_error", "error"):
        m[f"status.{k}"] = res.statuses.get(k, 0)
    ctx.details.update({
        "untraced_job_walls_s": untraced_walls, "traced_job_walls_s": traced_walls,
        "mismatches": mismatches, "stream_check": statuses,
    })
    tracer.write(os.path.join(ctx.work, "traces", f"{tracer.run_id}.jsonl"))
    units = metric_units()
    if set(units) != set(m):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {set(units) ^ set(m)}")
    return {
        "correct": mismatches == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(m.items())},
    }


def watch_once(tracer: Tracer, spark, watch: str, out: str, ckpt: str, cfg) -> None:
    """One available-now watch query: the ``stream.watch_extract`` span
    is its start, the enclosing ``stream.batch`` span start to end."""
    from pypdfocr_spark import stream

    def batch():
        stream.watch_extract(spark, watch, out, ckpt, cfg, available_now=True).awaitTermination()

    tracer.span("stream.batch", batch)


def traced_stream(ctx: run.Ctx, tracer: Tracer, spark) -> tuple[int, int, dict]:
    """Batch workloads: one available-now watch batch over the first
    corpus chunk (its light and heavy files)."""
    from pypdfocr_spark import cli

    watch, out, ckpt = ctx.path("s-watch"), ctx.path("s-out"), ctx.path("s-ckpt")
    os.makedirs(watch)
    for f in ("light-00.parquet", "heavy-00.parquet"):
        src = os.path.join(ctx.inputs.corpus_dir, f)
        if os.path.exists(src):
            os.link(src, os.path.join(watch, f))
    watch_once(tracer, spark, watch, out, ckpt, cli.load_config(None))
    import pyarrow.parquet as pq

    urls = []
    for f in os.listdir(watch):
        urls += pq.read_table(os.path.join(watch, f), columns=["url"]).column(0).to_pylist()
    oracle = ctx.inputs.oracle
    res = check.check(check.read_committed(out), oracle)
    expected = [u for u in urls if u in oracle]
    failed = bool(res.failed(expected))
    return 1, int(failed), {"mismatches": len(res.mismatches), "docs": len(expected)}


def traced_trickle(ctx: run.Ctx, tracer: Tracer, spark, out: str) -> tuple[int, int, dict]:
    """light_web: the first N_TRACE_FILES trickle files into the
    traced job's output, each renamed in and run as one watch query."""
    from pypdfocr_spark import cli

    watch, ckpt = ctx.path("s-watch"), ctx.path("s-ckpt")
    os.makedirs(watch)
    cfg = cli.load_config(None)
    for t in ctx.inputs.trickle[:N_TRACE_FILES]:
        staged = ctx.path(t["file"])
        os.link(os.path.join(ctx.inputs.stage_dir, t["file"]), staged)
        os.rename(staged, os.path.join(watch, t["file"]))
        watch_once(tracer, spark, watch, out, ckpt, cfg)
    oracle = ctx.inputs.oracle
    res = check.check(check.read_committed(out), oracle)
    failed = 0
    for t in ctx.inputs.trickle[:N_TRACE_FILES]:
        failed += bool(res.failed([u for u in t["urls"] if u in oracle]))
    return N_TRACE_FILES, failed, {"mismatches": len(res.mismatches)}


def metric_units() -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
