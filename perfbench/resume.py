"""resume_append: checkpointed, per-partition validation with resume.

Each cycle resets the table to a fresh copy of three partitions of a
4,000-row fixture window (the clips_full generator at the clips_full
window's offset: the same violation density with 250 rows per partition
instead of 625, since a run here is per-partition and global-phase
overhead, not decode) and runs ``run_checkpointed`` on an empty
manifest. It then commits new files to one partition (an append, which
takes the delta-scan path) and rewrites a second into one file (a
compaction, which takes the full re-validation path), runs
``run_checkpointed`` again — the third partition is skipped — and ends
with a rerun that changes nothing and must launch no Spark job.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time
import uuid
from collections import Counter

from . import env
from .clips import (APPEND_ROWS, RESUME_ROWS, ensure_inputs,
                    ensure_window, table_bytes, window_offset)
from .layers import maybe_span, median

PARTITIONS = 3                 # partitions of the window the table keeps
APPEND_TO = (0,)               # partition indexes that receive new files
REWRITE = 1                    # partition index that is compacted
RERUN_TAG = "perfbench-rerun"


def _part_dirs(table: str) -> list:
    return sorted(n for n in os.listdir(table) if n.startswith("part_date="))


def _data_files(d: str) -> list:
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


class ResumeAppend:
    min_samples = 3
    name = "resume_append"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.off = off = window_offset(seed)
        self.generated_s = ensure_inputs(spark)
        self.base, _ = ensure_window(spark, off, RESUME_ROWS)
        self.extra, _ = ensure_window(spark, off + RESUME_ROWS, APPEND_ROWS)
        self.work = os.path.join(env.CACHE, "work", "resume")
        self.table = os.path.join(self.work, "table")
        self.out = os.path.join(self.work, "out")
        self.last = None

    # -- inputs and oracle ---------------------------------------------------

    def open_inputs(self):
        """List the partitions and compute the oracle over the rows each
        cycle commits."""
        from protovalidate_spark.dataset.drift import load_snapshot
        from protovalidate_spark.fixtures import (N_PARTITIONS, Profile,
                                                  expected_violations, py_row)
        from .clips import DUR_RANGE_MS
        self.parts = _part_dirs(os.path.join(self.base, "table"))[:PARTITIONS]
        self.baseline = load_snapshot(
            os.path.join(self.base, "drift_baseline.json"))
        idx = [_day(p) for p in self.parts]
        end = self.off + RESUME_ROWS
        base_rows = {i for i in range(self.off, end)
                     if i % N_PARTITIONS in idx}
        added = {i for i in range(end, end + APPEND_ROWS)
                 if i % N_PARTITIONS in {idx[k] for k in APPEND_TO}}
        profile = Profile(n_rows=end + APPEND_ROWS, dur_range_ms=DUR_RANGE_MS)
        self.first_rows = base_rows
        self.final_rows = base_rows | added
        self.committed_rows = len(added) + sum(
            1 for i in base_rows if i % N_PARTITIONS == idx[REWRITE])
        row_level = [v for v in expected_violations(profile)
                     if v[2] != "UNIQUE"]
        ids = {i: py_row(i, profile)["clip_id"] for i in self.final_rows}
        self.expected_first = _with_unique(row_level, self.first_rows, ids)
        self.expected_final = _with_unique(row_level, self.final_rows, ids)

    def suite(self):
        from protovalidate_spark.clips import clips_suite
        return clips_suite(self.spark, drift_baseline=self.baseline)

    # -- one cycle ---------------------------------------------------------

    def _reset(self):
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.table)
        src = os.path.join(self.base, "table")
        for p in self.parts:
            shutil.copytree(os.path.join(src, p), os.path.join(self.table, p))

    def _commit(self):
        """Append the extra window's files to APPEND_TO partitions under
        fresh names; rewrite the REWRITE partition into one new file."""
        import pyarrow.parquet as pq
        extra = os.path.join(self.extra, "table")
        for k in APPEND_TO:
            p = self.parts[k]
            for f in _data_files(os.path.join(extra, p)):
                name = f"append-{uuid.uuid4()}.parquet"
                shutil.copyfile(os.path.join(extra, p, f),
                                os.path.join(self.table, p, name))
        d = os.path.join(self.table, self.parts[REWRITE])
        old = _data_files(d)
        merged = pq.read_table([os.path.join(d, f) for f in old])
        pq.write_table(merged, os.path.join(
            d, f"compacted-{uuid.uuid4()}.parquet"), compression="none")
        for f in old:
            os.remove(os.path.join(d, f))

    def _run(self, tracer, phase: str):
        from protovalidate_spark.runner import run_checkpointed
        t = time.perf_counter()
        with maybe_span(tracer, "runner." + phase):
            rep = run_checkpointed(self.spark, self.suite(), self.table,
                                   self.out)
        return rep, time.perf_counter() - t

    def close(self):
        shutil.rmtree(self.work, ignore_errors=True)

    def warm_up(self):
        """A first run: the partition job, global phase and sink write code
        paths warm at about half the cost of a whole cold cycle."""
        self._reset()
        self._run(None, "warm_up")

    def run_once(self, tracer=None):
        self._reset()
        first, first_s = self._run(tracer, "first")
        first_out = self._outputs()
        self._commit()
        resume, resume_s = self._run(tracer, "resume")
        final_out = self._outputs()
        sc = self.spark.sparkContext
        sc.addJobTag(RERUN_TAG)
        try:
            rerun, rerun_s = self._run(tracer, "rerun")
        finally:
            sc.removeJobTag(RERUN_TAG)
        rerun_jobs = len(sc._jsc.sc().statusTracker().getJobIdsForTag(
            RERUN_TAG))
        sc.clearJobTags()
        self.last = out = {
            "first": first, "first_out": first_out, "resume": resume,
            "final_out": final_out, "rerun": rerun,
            "rerun_jobs": rerun_jobs, "manifest": self._manifest()}
        return out, {"first_run_s": first_s, "resume_s": resume_s,
                     "rerun_s": rerun_s}

    def _manifest(self) -> dict:
        from protovalidate_spark.runner import read_manifest
        return read_manifest(os.path.join(self.out, "_manifest"))

    def _outputs(self):
        """(row_idx, field_path, rule_id) rows of the sink, read with
        pyarrow so the check launches no Spark job, the manifest
        violation total and rows scanned."""
        import pyarrow.dataset as ds
        from protovalidate_spark.runner import GLOBAL_KEY
        cols = ["row_idx", "field_path", "rule_id"]
        rows = []
        for sub in ("violations", "global_violations"):
            path = os.path.join(self.out, sub)
            if os.path.exists(path):
                t = ds.dataset(path, format="parquet").to_table(columns=cols)
                rows += zip(*(t.column(c).to_pylist() for c in cols))
        recs = self._manifest()
        return {"rows": rows,
                "violations": sum(r["violations"] for r in recs.values()),
                "rows_scanned": sum(r["rows_scanned"] for p, r in recs.items()
                                    if p != GLOBAL_KEY)}

    def end_to_end(self, samples: list) -> dict:
        first = median([s["first_run_s"] for s in samples])
        return {"rows_per_s": len(self.first_rows) / first if first else 0.0,
                "first_run_s": first,
                "resume_s": median([s["resume_s"] for s in samples]),
                "cycles": len(samples)}

    def check(self, out) -> list:
        errs = []
        for label, got, want, rows in (
                ("first run", out["first_out"], self.expected_first,
                 self.first_rows),
                ("resume", out["final_out"], self.expected_final,
                 self.final_rows)):
            if Counter(got["rows"]) != Counter(want):
                errs.append(f"{label}: sink differs from oracle")
            if got["violations"] != len(want):
                errs.append(f"{label}: manifest violations "
                            f"{got['violations']} != {len(want)}")
            if got["rows_scanned"] != len(rows):
                errs.append(f"{label}: manifest rows {got['rows_scanned']} "
                            f"!= {len(rows)}")
        if out["first"].partitions_skipped or \
                len(out["first"].partitions_run) != len(self.parts):
            errs.append("first run did not run every partition")
        want_run = sorted(_value(self.parts[k]) for k in (*APPEND_TO, REWRITE))
        if sorted(out["resume"].partitions_run) != want_run:
            errs.append(f"resume ran {out['resume'].partitions_run}, "
                        f"expected {want_run}")
        if out["rerun"].partitions_run or out["rerun_jobs"]:
            errs.append(f"no-change rerun ran {out['rerun'].partitions_run} "
                        f"with {out['rerun_jobs']} Spark jobs")
        return errs

    def trace_layers(self, tracer) -> dict:
        """The dataset layer probed on the committed table (what the
        resume's global phase checks)."""
        from .layers import probe_dataset
        self._reset()
        self._commit()
        probe_dataset(tracer, self.spark.read.parquet(self.table),
                      self.suite())
        return {"rows": len(self.final_rows),
                "table_bytes": table_bytes(self.table)}

    def pass_facts(self) -> dict:
        """Runner facts of the last cycle, from its manifest and reports."""
        from protovalidate_spark.runner import GLOBAL_KEY
        out = self.last
        walls_ms = [r["wall_ms"] for p, r in out["manifest"].items()
                    if p != GLOBAL_KEY]
        return {
            "runner.partition_s_p50": median(walls_ms) / 1000.0,
            "runner.partition_s_max": max(walls_ms) / 1000.0,
            "runner.global_s": out["manifest"][GLOBAL_KEY]["wall_ms"] / 1e3,
            "runner.partitions_run": len(out["resume"].partitions_run),
            "runner.partitions_skipped": len(out["resume"].partitions_skipped),
            "runner.rows_committed": self.committed_rows,
        }


def _with_unique(row_level: list, rows: set, ids: dict) -> list:
    """Row-level oracle violations of ``rows`` plus UNIQUE on clip_id over
    exactly those rows."""
    out = [v for v in row_level if v[0] in rows]
    counts = Counter(ids[i] for i in rows if ids[i] is not None)
    out += [(i, "/clip_id", "UNIQUE") for i in rows
            if ids[i] is not None and counts[ids[i]] > 1]
    return out


def _value(part_dir: str) -> str:
    return part_dir.split("=", 1)[1]


def _day(part_dir: str) -> int:
    """Generator partition index of a part_date directory."""
    from protovalidate_spark.fixtures import EPOCH_DATE
    return (datetime.date.fromisoformat(_value(part_dir))
            - datetime.date.fromisoformat(EPOCH_DATE)).days

