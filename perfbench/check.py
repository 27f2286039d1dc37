"""Output check: committed rows against ``corpus.oracle_extract``.

Every committed row's ``extracted_text``, ``extracted_norm``, ``route``,
``n_pages`` and ``status`` must equal the oracle row of the same url; a
difference, or a committed url the oracle does not know, is a mismatch
and fails the run. A url committed twice, an expected url that is
missing, and a row with an ``error:*`` status are failures: they count
toward ``failed_frac`` instead.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

FIELDS = ("extracted_text", "extracted_norm", "route", "n_pages", "status")


def read_committed(out_dir: str) -> list[dict]:
    """The rows of ``<out_dir>/extracted`` (parquet, read without Spark)."""
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for f in sorted(glob.glob(os.path.join(out_dir, "extracted", "*.parquet"))):
        rows += pq.read_table(f, columns=["url", *FIELDS]).to_pylist()
    return rows


class Result:
    def __init__(self) -> None:
        self.mismatches: list[tuple[str, str]] = []  # (url, field)
        self.count: Counter = Counter()
        self.errors: set[str] = set()
        self.statuses: Counter = Counter()

    def duplicated(self) -> set[str]:
        return {u for u, n in self.count.items() if n > 1}

    def failed(self, urls) -> set[str]:
        """The urls among ``urls`` that are missing, duplicated or errored."""
        return {u for u in urls if self.count[u] != 1 or u in self.errors}


def check(committed: list[dict], oracle: dict[str, dict]) -> Result:
    res = Result()
    for row in committed:
        url = row["url"]
        res.count[url] += 1
        status = row["status"] or ""
        res.statuses["error" if status.startswith("error:") else status] += 1
        if status.startswith("error:"):
            res.errors.add(url)
        want = oracle.get(url)
        if want is None:
            res.mismatches.append((url, "url"))
            continue
        for f in FIELDS:
            if row[f] != want[f]:
                res.mismatches.append((url, f))
    return res


def self_test() -> None:
    """Feed the checker one altered row and one duplicated row and show
    that it catches both; a faithful copy must pass clean."""
    from pypdfocr_spark import corpus as ck
    from pypdfocr_spark.config import DEFAULT_ROUTE, DEFAULT_TARGETS

    src = "spark column table window vector query scan join " * 6
    rows = [ck.build_corpus_row(d, src, "en", "src1") for d in (1, 2, 4, 5, 9, 27)]
    oracle = {r["url"]: r for r in ck.oracle_extract(rows, DEFAULT_TARGETS, DEFAULT_ROUTE)}
    good = [dict(r) for r in oracle.values()]
    clean = check(good, oracle)
    if clean.mismatches or clean.failed(oracle):
        raise AssertionError("checker flagged a faithful copy")

    altered = [dict(r) for r in good]
    altered[0]["extracted_norm"] += " "
    res = check(altered, oracle)
    if res.mismatches != [(altered[0]["url"], "extracted_norm")]:
        raise AssertionError(f"checker missed the altered row: {res.mismatches}")

    duplicated = good + [dict(good[1])]
    res = check(duplicated, oracle)
    if res.mismatches or res.failed(oracle) != {good[1]["url"]}:
        raise AssertionError("checker missed the duplicated row")

    missing = good[1:]
    if check(missing, oracle).failed(oracle) != {good[0]["url"]}:
        raise AssertionError("checker missed the missing row")
