"""clips_full: the paper's headline pass — ``clips_suite(...).run(df,
with_stats=True)`` (row rules, WAV decode, uniqueness, referential,
drift, stats) over a fixture clips table, checked row by row against the
package's pure-Python oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from . import env
from .layers import maybe_span, median, probe_table

N_ROWS = 10_000
DUR_RANGE_MS = 800
WINDOWS = 2          # distinct row windows a seed can pick
RESUME_ROWS = 4_000  # rows of the resume_append table's source window
APPEND_ROWS = 1_000  # generator rows after it, for resume_append commits
DRIFT_COLS = ("sr_hz", "dur_ms", "codec")
STATS_COLS = ("clip_id", "sr_hz", "dur_ms", "codec", "transcript")
# package sources that write the cached inputs, the oracle and the drift
# baseline; their digest names the cache entry, so a checkout with other
# versions of them regenerates instead of reusing stale inputs
INPUT_SOURCES = ("fixtures.py", os.path.join("dataset", "drift.py"))


def inputs_digest() -> str:
    h = hashlib.sha256()
    for rel in INPUT_SOURCES:
        with open(os.path.join(env.ROOT, env.PACKAGE, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def window_offset(seed: int) -> int:
    return (seed % WINDOWS) * N_ROWS


def ensure_inputs(spark) -> float:
    """Generate every window any seed can pick — the clips_full window,
    the shorter resume_append window at the same offset and the rows after
    it that resume_append commits — on the first run in a checkout; later
    runs only find them. Returns the seconds spent generating."""
    secs = 0.0
    for k in range(WINDOWS):
        off = window_offset(k)
        secs += ensure_window(spark, off)[1]
        secs += ensure_window(spark, off, RESUME_ROWS)[1]
        secs += ensure_window(spark, off + RESUME_ROWS, APPEND_ROWS)[1]
    return secs


def ensure_window(spark, offset: int, n_rows: int = N_ROWS) -> tuple:
    """Rows [offset, offset + n_rows) of the fixture generator, written
    once as a part_date-partitioned table, with the oracle's expected
    (row_idx, field_path, rule_id) set and a drift baseline beside it.
    Returns (directory, seconds spent generating — 0 when cached)."""
    from pyspark.sql import functions as F

    from protovalidate_spark.dataset.drift import save_snapshot, snapshot
    from protovalidate_spark.fixtures import (Profile, clips_df,
                                              expected_violations)
    path = env.cache_dir("inputs",
                         f"clips_off{offset}_n{n_rows}_{inputs_digest()}")
    table = os.path.join(path, "table")
    marker = os.path.join(path, "READY")
    if os.path.exists(marker):
        return path, 0.0
    t = time.perf_counter()
    shutil.rmtree(table, ignore_errors=True)
    profile = Profile(n_rows=offset + n_rows, dur_range_ms=DUR_RANGE_MS)
    (clips_df(spark, profile).filter(F.col("row_idx") >= offset)
     .write.mode("overwrite").option("compression", "none")
     .partitionBy("part_date").parquet(table))
    expected = sorted(v for v in expected_violations(profile)
                      if v[0] >= offset)
    with open(os.path.join(path, "expected.json"), "w") as f:
        json.dump(expected, f)
    save_snapshot(snapshot(spark.read.parquet(table), list(DRIFT_COLS)),
                  os.path.join(path, "drift_baseline.json"))
    open(marker, "w").close()
    return path, time.perf_counter() - t


def load_expected(path: str) -> set:
    with open(os.path.join(path, "expected.json")) as f:
        return {tuple(v) for v in json.load(f)}


def table_bytes(table: str) -> int:
    total = 0
    for d, _, files in os.walk(table):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


class ClipsFull:
    min_samples = 3
    name = "clips_full"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.generated_s = ensure_inputs(spark)
        self.path, _ = ensure_window(spark, window_offset(seed))
        self.table = os.path.join(self.path, "table")
        self.rows = N_ROWS

    def open_inputs(self):
        """Cache-check and open the inputs, load the drift baseline."""
        from protovalidate_spark.dataset.drift import load_snapshot
        self.expected = load_expected(self.path)
        self.baseline = load_snapshot(
            os.path.join(self.path, "drift_baseline.json"))
        self.df = self.spark.read.parquet(self.table)

    def suite(self):
        from protovalidate_spark.clips import clips_suite
        return clips_suite(self.spark, drift_baseline=self.baseline)

    def warm_up(self):
        self.run_once()

    def run_once(self, tracer=None):
        """One full pass, from the call until violations, verdicts and
        stats are all materialized on the driver."""
        t = time.perf_counter()
        with maybe_span(tracer, "suite.run"):
            res = self.suite().run(self.df, with_stats=True)
        with maybe_span(tracer, "suite.materialize"):
            vio = res.violations.select(
                "row_idx", "field_path", "rule_id").collect()
            verdicts = res.verdicts.collect()
            stats = res.stats.collect()
        res.violations.unpersist()
        return (vio, verdicts, stats), {"pass_s": time.perf_counter() - t}

    def end_to_end(self, samples: list) -> dict:
        """No manifest: re-validating after a commit is another full pass,
        so first_run_s and resume_s both read the median pass time."""
        return single_pass_metrics(self.rows, samples)

    def check(self, out) -> list:
        """Empty list when the pass's outputs are right, else reasons."""
        vio, verdicts, stats = out
        got = {(r["row_idx"], r["field_path"], r["rule_id"]) for r in vio}
        errs = []
        if len(got) != len(vio):
            errs.append(f"{len(vio) - len(got)} duplicate violation rows")
        if got != self.expected:
            errs.append(f"violations differ from oracle: "
                        f"{len(got - self.expected)} extra, "
                        f"{len(self.expected - got)} missing")
        keyed = sum(1 for r in vio if r["row_idx"] is not None)
        if sum(r["rows_scanned"] for r in verdicts) != self.rows:
            errs.append("verdict rows_scanned != table rows")
        if sum(r["violations"] for r in verdicts) != keyed:
            errs.append("verdict violations != violation rows")
        if any(r["pass"] != (r["violations"] == 0) for r in verdicts):
            errs.append("verdict pass flag inconsistent")
        if sorted(r["column"] for r in stats) != sorted(STATS_COLS) or \
                any(r["n_rows"] != self.rows for r in stats):
            errs.append("stats rows wrong")
        return errs

    def trace_layers(self, tracer) -> dict:
        return probe_table(tracer, self.df, self.suite(),
                           table_bytes(self.table))


def single_pass_metrics(rows: int, samples: list) -> dict:
    pass_s = median([s["pass_s"] for s in samples])
    return {"rows_per_s": rows / pass_s if pass_s else 0.0,
            "first_run_s": pass_s, "resume_s": pass_s,
            "passes": len(samples)}
