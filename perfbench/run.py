"""Benchmark entry point.

    python3 perfbench/run.py --workload clips_full --seed 1 --seconds 10 \
        --trace 0

Runs one workload in one process at ``local[nproc]``, checks every
operation's outputs, and prints a human-readable summary followed, as the
last line of standard output, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics of a traced run, and the layer predictions in
BENCHMARK.json are checked against the latest traced run of every
workload. Each run also writes an artifact (host context included) under
``.perfbench_cache/artifacts/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import env  # noqa: E402

WORKLOADS = ("clips_full", "table_contract", "resume_append")
END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "first_run_s": "s",
              "resume_s": "s", "peak_rss_mb": "MB"}
SETUP_REPEATS = 3
HARD_STOP_S = 120


def make_workload(name: str, spark, seed: int):
    if name == "clips_full":
        from perfbench.clips import ClipsFull
        return ClipsFull(spark, seed)
    if name == "table_contract":
        from perfbench.contract import TableContract
        return TableContract(spark, seed)
    from perfbench.resume import ResumeAppend
    return ResumeAppend(spark, seed)


class Outcome:
    """Operations attempted and failed; a failure is an exception or a
    wrong output, and its reason is kept for the artifact."""

    def __init__(self):
        self.attempted = 0
        self.failures: list = []

    def run(self, wl, tracer=None):
        self.attempted += 1
        try:
            out, walls = wl.run_once(tracer)
        except Exception:  # one failed operation must not end the run
            self.failures.append(traceback.format_exc(limit=8))
            return None
        errs = wl.check(out)
        if errs:
            self.failures.append("; ".join(errs))
            return None
        return walls


def setup(wl) -> float:
    """Open the inputs several times (median) and run the untimed
    warm-up operation; returns the seconds this part of set-up took."""
    opens = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.open_inputs()
        opens.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up()
    return sorted(opens)[len(opens) // 2] + time.perf_counter() - t


def measure(wl, seconds: float, outcome: Outcome, gen_s: float) -> list:
    """Operations until ``seconds`` have passed and the workload's
    ``min_samples`` were attempted. Pass times still fall over the first
    passes after warm-up (JIT), so a fixed sample count keeps the median
    at the same point of that curve in every run. No operation starts
    after ``HARD_STOP_S`` from process start, not counting the
    ``gen_s`` seconds spent generating inputs, so a failing or stalled
    program still ends the run in time. Each sample records the CPU steal
    seconds of the host during the operation."""
    samples = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() - T_PROCESS - gen_s < HARD_STOP_S:
        if (outcome.attempted >= wl.min_samples
                and time.perf_counter() >= deadline):
            break
        steal0 = env.steal_ticks()
        walls = outcome.run(wl)
        if walls is not None:
            walls["steal_cpu_s"] = (env.steal_ticks() - steal0) / env.USER_HZ
            samples.append(walls)
    return samples


def traced(wl, spark, outcome: Outcome):
    """Layer probes, then one traced operation between two untraced ones;
    the traced time over the mean untraced time is the tracing overhead
    (bracketing cancels the pass-time drift after warm-up)."""
    from perfbench.trace import Tracer
    tracer = Tracer(spark)
    facts = wl.trace_layers(tracer)
    walls = {}
    pass_facts = getattr(wl, "pass_facts", None)
    for label, tr in (("before", None), ("traced", tracer), ("after", None)):
        if tr is not None:
            tr.new_trace()
        t = time.perf_counter()
        if outcome.run(wl, tr) is not None:
            walls[label] = time.perf_counter() - t
            if tr is not None and pass_facts is not None:
                facts.update(pass_facts())
    if len(walls) == 3:
        facts["pass_traced_s"] = walls["traced"]
        facts["pass_untraced_s"] = (walls["before"] + walls["after"]) / 2
    return tracer, facts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not env.package_present():
        print(f"perfbench: package {env.PACKAGE!r} not found beside "
              f"{env.ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    env.prepare_process()
    host = env.HostContext()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-" \
             f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    event_dir = env.cache_dir("eventlog", run_id) if args.trace else None
    outcome = Outcome()
    with env.PeakRss() as rss:
        spark = env.start_session("perfbench-" + args.workload, event_dir)
        wl = None
        try:
            wl = make_workload(args.workload, spark, args.seed)
            gen_s = wl.generated_s
            pre_s = time.perf_counter() - T_PROCESS - gen_s
            setup_s = pre_s + setup(wl)
            if args.trace:
                tracer, facts = traced(wl, spark, outcome)
                samples = []
            else:
                samples = measure(wl, args.seconds, outcome, gen_s)
        finally:
            if hasattr(wl, "close"):
                wl.close()
            rss.poll()
            env.stop_session(spark)
    artifact = {"run": run_id, "workload": args.workload,
                "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "host": host.summary(),
                "inputs_generated_s": gen_s, "samples": samples,
                "failures": outcome.failures}
    failed = len(outcome.failures)
    if args.trace:
        from perfbench import layers, predictions
        unattributed = tracer.attach_event_log(event_dir)
        metrics = layers.layer_metrics(tracer, facts, env.nproc())
        tracer.dump(os.path.join(env.cache_dir("artifacts"),
                                 run_id + ".spans.json"))
        report = predictions.record_and_check(args.workload, metrics)
        artifact.update({"per_layer": metrics, "facts": facts,
                         "unattributed_counts": unattributed,
                         "predictions": report})
        out = {k: {"value": v, "unit": layers.PER_LAYER[k]}
               for k, v in metrics.items()}
        for k, v in out.items():
            print(f"{k:<32}{v['value']:>14.4f}  {v['unit']}")
        predictions.print_report(report)
    else:
        e2e = wl.end_to_end(samples)
        e2e.update({"setup_s": setup_s, "peak_rss_mb": rss.peak_mb})
        out = {k: {"value": e2e[k], "unit": u}
               for k, u in END_TO_END.items()}
        artifact.update({"end_to_end": e2e, "setup_parts": {
            "process_to_inputs_s": pre_s},
            "peak_rss_kb_by_pid": rss.peaks})
        print(f"{'metric':<14}{'value':>14}  unit")
        for k, v in out.items():
            print(f"{k:<14}{v['value']:>14.4f}  {v['unit']}")
        print(f"{'fail_ratio':<14}{failed / max(outcome.attempted, 1):>14.4f}"
              f"  ratio  ({failed}/{outcome.attempted} operations)")
    print(f"host: {json.dumps(artifact['host'])}")
    for reason in outcome.failures:
        print("FAILED: " + reason.strip().splitlines()[-1], file=sys.stderr)
    with open(os.path.join(env.cache_dir("artifacts"), run_id + ".json"),
              "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0 and outcome.attempted > 0,
                      "attempted": outcome.attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
