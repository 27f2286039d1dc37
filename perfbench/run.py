"""Extraction-job benchmark for pypdfocr_spark.

    python3 perfbench/run.py --workload skew_tail --seed 1 --seconds 16 --trace 0

Runs the extraction job the way its users run it: batch jobs through
the CLI (``cli.main`` → ``pipeline.extract`` → ``lineage.commit``), over
the ``skew_tail`` or the ``light_web`` corpus. Each run starts a fresh
JVM at ``local[nproc]`` from this one driver process. ``--trace 1`` makes
the separate traced run of ``layers.py`` instead, which also times watch
mode (``stream.watch_extract(..., available_now=True)``). The last stdout
line is the result JSON; the line before it holds the details (sample
counts, percentiles, the environment). See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402

WARMUP_JOBS = 3  # untimed batch jobs in set-up
MIN_REPS = 4  # timed batch jobs per run, at least
TAIL_P = 0.9


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(math.ceil(p * len(s)) - 1, 0)]


class Ctx:
    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.inputs: gen.Inputs | None = None
        self.details: dict = {"workload": args.workload, "seed": args.seed}

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def prepare(ctx: Ctx) -> None:
    t0 = time.monotonic()
    ctx.inputs, hit = gen.build(ROOT, ctx.work, ctx.workload, ctx.seed, harness.nproc())
    meta = ctx.inputs.meta
    ctx.details["inputs"] = {
        "cache_hit": hit, "prepare_s": time.monotonic() - t0, "gen_s": meta["gen_s"],
        "key": meta["key"], "corpus_docs": meta["corpus_docs"],
        "corpus_bytes": meta["corpus_bytes"], "malformed": meta["malformed"],
    }


def cli_batch(corpus: str, out: str) -> float:
    """One batch job through the CLI; returns its wall time."""
    from pypdfocr_spark import cli

    t0 = time.monotonic()
    with contextlib.redirect_stdout(io.StringIO()):
        rc = cli.main(["--corpus", corpus, "--out", out])
    wall = time.monotonic() - t0
    if rc != 0:
        raise RuntimeError(f"cli exited {rc}")
    return wall


def warm_up(ctx: Ctx, tag: str, jobs: int = WARMUP_JOBS) -> list[float]:
    """``jobs`` batch jobs over the workload's corpus. The first job
    after a JVM start pays one-time costs (Python workers, imports) and
    the next ones still speed up while the JIT compiles; from about the
    fourth job on they level off."""
    return [cli_batch(ctx.inputs.corpus_dir, ctx.path(f"{tag}-{i}")) for i in range(jobs)]


def setup(ctx: Ctx, host: harness.SparkHost, warmup_jobs: int = WARMUP_JOBS) -> float:
    """``get_spark`` plus the warm-up jobs; returns set-up seconds."""
    t0 = time.monotonic()
    host.start("perfbench")
    t1 = time.monotonic()
    warm = warm_up(ctx, "warm-out", warmup_jobs)
    ctx.details["setup"] = {"get_spark_s": t1 - t0, "warmup_jobs_s": warm}
    return time.monotonic() - t0


def environment(spark) -> dict:
    import pandas
    import pyarrow
    import pyspark

    conf = spark.conf
    return {
        "nproc": harness.nproc(),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "spark.sql.execution.arrow.pyspark.enabled":
            conf.get("spark.sql.execution.arrow.pyspark.enabled"),
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    }


# ------------------------------------------------------------ batch
class Tally:
    """Operations attempted and failed, and rows that differ from the
    oracle, over the checked outputs of one run."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.oracle = ctx.inputs.oracle
        self.expected = [u for u in ctx.inputs.meta["corpus_urls"] if u in self.oracle]
        self.attempted = self.failed = self.mismatches = 0
        self.rates: list[float] = []

    def job(self, out: str, wall: float | None) -> None:
        """One batch job over the corpus; its docs are the operations, and
        a job that raised (``wall`` None) fails all of them."""
        self.attempted += len(self.expected)
        if wall is None:
            self.failed += len(self.expected)
            return
        res = check.check(check.read_committed(out), self.oracle)
        self.mismatches += len(res.mismatches)
        self.ctx.details["status_counts"] = dict(res.statuses)
        self.ctx.details.setdefault("mismatch_examples", []).extend(res.mismatches[:3])
        self.failed += len(res.failed(self.expected))
        self.rates.append(len(self.expected) / wall)


def attempt(ctx: Ctx, fn, *args):
    """``fn(*args)``, or None (recorded in the details) when it raises.
    The details also get the CPU lost to other tenants meanwhile."""
    t0 = harness.cpu_ticks()
    try:
        return fn(*args)
    except Exception as exc:
        ctx.details.setdefault("raised", []).append(repr(exc)[:500])
        return None
    finally:
        share = harness.cpu_share(t0, harness.cpu_ticks())
        ctx.details.setdefault("cpu_lost", []).append({"op": fn.__name__, **share})


def run_batch(ctx: Ctx) -> dict:
    host = harness.SparkHost()
    runs = []  # (out dir, wall seconds or None)
    try:
        setup_s = setup(ctx, host)
        ctx.details["env"] = environment(host.spark)
        with harness.PssSampler() as pss:
            t0 = time.monotonic()
            while len(runs) < MIN_REPS or time.monotonic() - t0 < ctx.seconds:
                out = ctx.path(f"out-{len(runs)}")
                runs.append((out, attempt(ctx, cli_batch, ctx.inputs.corpus_dir, out)))
    finally:
        host.stop()
    tally = Tally(ctx)
    for out, wall in runs:
        tally.job(out, wall)
    return finish(ctx, tally, [w for _, w in runs if w is not None], setup_s, pss.peak)


# ------------------------------------------------------------ output
def finish(ctx: Ctx, tally: Tally, lat: list[float], setup_s: float, peak_mb: float) -> dict:
    if not lat or not tally.rates:
        raise RuntimeError(f"every timed operation raised: {ctx.details.get('raised')}")
    ctx.details.update({
        "ops": {"unit": "job", "n": len(lat), "latencies_s": lat},
        # not gated: with 4-6 jobs a run it is the slowest one, with no
        # samples beyond it, and the least steady figure from run to run
        "latency_tail_s": {"value": percentile(lat, TAIL_P), "unit": "s", "percentile": TAIL_P},
        "docs_per_s_samples": tally.rates,
        "failed_frac": {"value": tally.failed / tally.attempted, "unit": "ratio"},
        # not gated: it does not repeat within a tenth from run to run
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "mismatches": tally.mismatches,
    })
    return {
        "correct": tally.mismatches == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            "docs_per_s": {"value": statistics.median(tally.rates), "unit": "docs/s"},
            "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        },
    }


def self_test(ctx: Ctx) -> None:
    """Checker self-test plus the generator's determinism check on a
    small scale: same seed → byte-identical files, other seed → not."""
    check.self_test()
    shas = []
    for i, seed in enumerate((7, 7, 8)):
        inputs, _ = gen.build(ROOT, ctx.path(f"selftest-{i}"), "skew_tail", seed,
                              harness.nproc(), scale=0.05, cache=False)
        shas.append(inputs.meta["files_sha256"])
    if shas[0] != shas[1]:
        raise AssertionError("same seed gave different corpus files")
    if shas[0] == shas[2]:
        raise AssertionError("different seeds gave identical corpus files")
    print(json.dumps({"self_test": "ok", "files": len(shas[0])}))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true",
                   help="check the output checker and the generator, then exit")
    args = p.parse_args()
    if not args.self_test and not args.workload:
        p.error("--workload is required")

    import pypdfocr_spark  # noqa: F401  (fails fast outside a full checkout)

    # SIGTERM unwinds like an exception, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    ctx = Ctx(args)
    os.makedirs(ctx.run_dir)
    harness.launch_env(ROOT, ctx.work)  # before any child process starts
    try:
        if args.self_test:
            self_test(ctx)
            return 0
        check.self_test()
        prepare(ctx)
        if args.trace:
            import layers

            result = layers.run_traced(ctx)
        else:
            result = run_batch(ctx)
    finally:
        harness.stop_descendants()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    print(json.dumps(ctx.details, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
