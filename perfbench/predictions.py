"""Layer predictions from BENCHMARK.json, checked against the latest
traced run of every workload.

Each traced run stores its per-layer metrics; the check then reads the
latest stored metrics of all workloads. A prediction that needs a
workload not traced yet reads ``pending``; a prediction that does not
hold reads ``FAILED`` — the workloads are never adjusted to make one
hold.
"""

from __future__ import annotations

import json
import os

from . import env

OVERHEAD_LIMIT = 0.25


def _self_times(m: dict) -> dict:
    """Self seconds of each layer on one workload."""
    return {
        "audio": m["audio.self_s"],
        "rules": m["rules.self_s"],
        "dataset": (m["dataset.unique_s"] + m["dataset.ref_s"]
                    + m["dataset.drift_s"] + m["dataset.stats_s"]),
        "errors": m["errors.summary_s"] + m["errors.cap_s"],
    }


def _largest(m: dict) -> str:
    st = _self_times(m)
    return max(st, key=st.get)


PREDICTIONS = (
    # (id, workloads needed, statement, check(metrics by workload) -> bool)
    ("audio_largest_on_clips_full", ("clips_full",),
     "audio self time is the largest layer self time on clips_full",
     lambda w: _largest(w["clips_full"]) == "audio"),
    ("audio_zero_on_table_contract", ("table_contract",),
     "audio does no work on table_contract (no binary column)",
     lambda w: w["table_contract"]["audio.decode_s"] == 0
     and w["table_contract"]["audio.rows_decoded"] == 0),
    ("audio_more_on_clips_full", ("clips_full", "table_contract"),
     "audio.mb_decoded and audio.self_s higher on clips_full",
     lambda w: w["clips_full"]["audio.mb_decoded"]
     > w["table_contract"]["audio.mb_decoded"]
     and w["clips_full"]["audio.self_s"]
     > w["table_contract"]["audio.self_s"]),
    ("rules_largest_on_table_contract", ("clips_full", "table_contract"),
     "rules self time and violations per row higher on table_contract "
     "than on clips_full",
     lambda w: w["table_contract"]["rules.self_s"]
     > w["clips_full"]["rules.self_s"]
     and w["table_contract"]["rules.violations_per_row"]
     > w["clips_full"]["rules.violations_per_row"]),
    ("errors_largest_on_table_contract", ("clips_full", "table_contract"),
     "errors summary+cap time and exemplar rows higher on table_contract",
     lambda w: _self_times(w["table_contract"])["errors"]
     > _self_times(w["clips_full"])["errors"]
     and w["table_contract"]["errors.exemplar_rows"]
     > w["clips_full"]["errors.exemplar_rows"]),
    ("sources_more_on_clips_full", ("clips_full", "table_contract"),
     "sources.input_mb higher on clips_full than on table_contract",
     lambda w: w["clips_full"]["sources.input_mb"]
     > w["table_contract"]["sources.input_mb"]),
    ("dataset_on_every_workload",
     ("clips_full", "table_contract", "resume_append"),
     "dataset layer does work on every workload",
     lambda w: all(_self_times(m)["dataset"] > 0 for m in w.values())),
    ("suite_flat_on_resume_append", ("clips_full", "resume_append"),
     "suite.run_s is lower on resume_append (runner-bound) than on "
     "clips_full",
     lambda w: w["resume_append"]["suite.run_s"]
     < w["clips_full"]["suite.run_s"]),
    ("runner_only_on_resume_append",
     ("clips_full", "table_contract", "resume_append"),
     "runner metrics are non-zero on resume_append and zero elsewhere",
     lambda w: w["resume_append"]["runner.jobs"] > 0
     and w["resume_append"]["runner.partitions_run"] > 0
     and all(w[k]["runner.jobs"] == 0 and w[k]["runner.partitions_run"] == 0
             for k in ("clips_full", "table_contract"))),
    ("trace_overhead_small",
     ("clips_full", "table_contract", "resume_append"),
     f"trace.overhead_ratio within 1 ± {OVERHEAD_LIMIT} on every workload",
     lambda w: all(abs(m["trace.overhead_ratio"] - 1) <= OVERHEAD_LIMIT
                   for m in w.values())),
)


def _store(workload: str) -> str:
    return os.path.join(env.cache_dir("artifacts"),
                        f"latest_trace_{workload}.json")


def record_and_check(workload: str, metrics: dict) -> list:
    with open(_store(workload), "w") as f:
        json.dump(metrics, f)
    known = {}
    for w in ("clips_full", "table_contract", "resume_append"):
        if os.path.exists(_store(w)):
            with open(_store(w)) as f:
                known[w] = json.load(f)
    report = []
    for pid, needs, text, check in PREDICTIONS:
        if workload not in needs:
            continue
        if not all(w in known for w in needs):
            status = "pending"
        else:
            status = "held" if check(known) else "FAILED"
        report.append({"id": pid, "status": status, "statement": text})
    return report


def print_report(report: list) -> None:
    print(f"{'prediction':<36}{'status':>9}")
    for r in report:
        print(f"{r['id']:<36}{r['status']:>9}  {r['statement']}")
