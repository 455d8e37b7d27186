"""Per-layer probes of a traced run.

Each layer is a ``protovalidate_spark`` module. The benchmark calls the
layer's public functions on the workload's own inputs, one at a time,
inside spans. A lazy call is timed twice: the plan-building call, and a
forced action on its output (``write.format("noop")``). A layer's self
time is its forced pass minus a scan of the same columns
(``sources.scan``). Event-log counts are attached to the spans after the
session stops, and :func:`layer_metrics` turns spans into the per-layer
metrics named in BENCHMARK.json.
"""

from __future__ import annotations

import contextlib
import statistics

from .trace import force

EXEMPLARS_K = 20
RUNNER_SPANS = ("runner.first", "runner.resume", "runner.rerun")
MB = 1e6

PER_LAYER = {
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "rules.build_s": "s", "rules.eval_s": "s", "rules.self_s": "s",
    "rules.violation_rows": "rows", "rules.violations_per_row": "1/row",
    "audio.decode_s": "s", "audio.self_s": "s", "audio.rows_decoded": "rows",
    "audio.mb_decoded": "MB", "audio.decode_ok_ratio": "ratio",
    "dataset.unique_s": "s", "dataset.ref_s": "s", "dataset.drift_s": "s",
    "dataset.stats_s": "s", "dataset.shuffle_mb": "MB",
    "suite.run_s": "s", "suite.materialize_s": "s", "suite.jobs": "count",
    "suite.tasks": "count", "suite.read_amplification": "ratio",
    "suite.executor_busy_ratio": "ratio", "suite.gc_s": "s",
    "errors.summary_s": "s", "errors.cap_s": "s",
    "errors.exemplar_rows": "rows",
    "runner.partition_s_p50": "s", "runner.partition_s_max": "s",
    "runner.global_s": "s", "runner.jobs": "count",
    "runner.partitions_run": "count", "runner.partitions_skipped": "count",
    "runner.rescan_ratio": "ratio", "runner.sink_mb_written": "MB",
    "trace.overhead_ratio": "ratio",
}


@contextlib.contextmanager
def maybe_span(tracer, name: str):
    if tracer is None:
        yield None
    else:
        with tracer.span(name) as s:
            yield s


def _observed(df, *aggs):
    from pyspark.sql import Observation
    obs = Observation()
    return df.observe(obs, *aggs), obs


def probe_table(tracer, df, suite, table_bytes: int) -> dict:
    """Call each layer's public functions on ``df`` under spans; returns
    the driver-side facts the metrics need (row counts and the like)."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from protovalidate_spark.audio.decode import with_decoded
    from protovalidate_spark.errors import cap_exemplars, violation_summary
    from protovalidate_spark.rules.binary import BinaryRuleSet

    keep = list(suite.row_keys) + (
        [suite.partition_col] if suite.partition_col else [])
    rule_cols = sorted({k.name for k in suite.rules.keys} | set(keep))
    audio_cols = [k.name for k in suite.rules.keys
                  if isinstance(k.rule_set, BinaryRuleSet)
                  and k.rule_set.decodable_codec]
    facts = {"rows": df.count(), "table_bytes": table_bytes}

    tracer.new_trace()
    with tracer.span("sources.scan"):
        force(df)
    with tracer.span("sources.scan.rules"):
        force(df.select(*rule_cols))

    tracer.new_trace()
    with tracer.span("rules.build"):
        rv = suite.rules.violations(df, row_key_cols=keep)
    rv, obs = _observed(rv, F.count(F.lit(1)).alias("n"))
    with tracer.span("rules.eval"):
        force(rv)
    facts["rules.violation_rows"] = obs.get["n"]

    facts.update({"audio.rows_decoded": 0, "audio.bytes": 0,
                  "audio.ok": 0, "audio.nonnull": 0})
    for c in audio_cols:
        tracer.new_trace()
        with tracer.span("sources.scan.audio", col=c):
            force(df.select(c))
        with tracer.span("audio.build", col=c):
            dec = with_decoded(df.select(c), bytes_col=c, out_col="__dec")
        dec, obs = _observed(
            dec, F.count(F.lit(1)).alias("n"),
            F.count(c).alias("nonnull"),
            F.sum(F.col("__dec.ok").cast("long")).alias("ok"),
            F.sum(F.octet_length(c)).alias("bytes"))
        with tracer.span("audio.decode", col=c):
            force(dec)
        got = obs.get
        facts["audio.rows_decoded"] += got["n"]
        facts["audio.nonnull"] += got["nonnull"]
        facts["audio.ok"] += got["ok"] or 0
        facts["audio.bytes"] += got["bytes"] or 0

    probe_dataset(tracer, df, suite)

    tracer.new_trace()
    with tracer.span("errors.input"):
        full = suite.rules.violations(df, row_key_cols=keep).persist(
            StorageLevel.MEMORY_AND_DISK)
        full.count()
    with tracer.span("errors.summary"):
        force(violation_summary(full))
    order = list(suite.row_keys) or keep
    capped, obs = _observed(cap_exemplars(full, order, EXEMPLARS_K),
                            F.count(F.lit(1)).alias("n"))
    with tracer.span("errors.cap"):
        force(capped)
    facts["errors.exemplar_rows"] = obs.get["n"]
    full.unpersist()
    return facts


def probe_dataset(tracer, df, suite) -> None:
    """The suite's dataset-level checks, one span each."""
    from protovalidate_spark.dataset import (column_stats, drift_violations,
                                             ref_violations,
                                             unique_violations)
    keep = list(suite.row_keys) + (
        [suite.partition_col] if suite.partition_col else [])
    tracer.new_trace()
    for cols in suite.unique:
        with tracer.span("dataset.unique", cols=list(cols)):
            force(unique_violations(df, list(cols), row_key_cols=keep))
    for col, dim, dim_col in suite.refs:
        with tracer.span("dataset.ref", col=col):
            force(ref_violations(df, col, dim, dim_col, row_key_cols=keep))
    if suite.drift_baseline:
        with tracer.span("dataset.drift"):
            force(drift_violations(df, suite.drift_baseline,
                                   suite.psi_threshold, suite.ks_threshold))
    if suite.stats_cols:
        with tracer.span("dataset.stats"):
            force(column_stats(df, list(suite.stats_cols)))


def layer_metrics(tracer, facts: dict, cores: int) -> dict:
    """Per-layer metrics from spans with event-log counts attached. A
    layer the workload never called reads 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    s = tracer.seconds
    rows = facts.get("rows") or 0

    # Spark's input-bytes counter misses the vectored reads of the local
    # filesystem, so bytes come from the files and read amplification is
    # counted in rows (input records per table row)
    m["sources.scan_s"] = s("sources.scan")
    m["sources.input_mb"] = facts.get("table_bytes", 0) / MB

    m["rules.build_s"] = s("rules.build")
    m["rules.eval_s"] = s("rules.eval")
    if tracer.find("rules.eval"):
        m["rules.self_s"] = m["rules.eval_s"] - s("sources.scan.rules")
    m["rules.violation_rows"] = facts.get("rules.violation_rows", 0)
    m["rules.violations_per_row"] = (m["rules.violation_rows"] / rows
                                     if rows else 0.0)

    m["audio.decode_s"] = s("audio.decode")
    if tracer.find("audio.decode"):
        m["audio.self_s"] = m["audio.decode_s"] - s("sources.scan.audio")
    m["audio.rows_decoded"] = facts.get("audio.rows_decoded", 0)
    m["audio.mb_decoded"] = facts.get("audio.bytes", 0) / MB
    nonnull = facts.get("audio.nonnull", 0)
    m["audio.decode_ok_ratio"] = (facts.get("audio.ok", 0) / nonnull
                                  if nonnull else 0.0)

    m["dataset.unique_s"] = s("dataset.unique")
    m["dataset.ref_s"] = s("dataset.ref")
    m["dataset.drift_s"] = s("dataset.drift")
    m["dataset.stats_s"] = s("dataset.stats")
    m["dataset.shuffle_mb"] = sum(
        tracer.inclusive(n)["shuffle_write_bytes"]
        for n in ("dataset.unique", "dataset.ref", "dataset.drift",
                  "dataset.stats")) / MB

    run_s, mat_s = s("suite.run"), s("suite.materialize")
    if tracer.find("suite.run"):
        c_run = tracer.inclusive("suite.run")
        c_mat = tracer.inclusive("suite.materialize")
        c = {k: c_run[k] + c_mat[k] for k in c_run}
        m["suite.run_s"], m["suite.materialize_s"] = run_s, mat_s
        m["suite.jobs"], m["suite.tasks"] = c["jobs"], c["tasks"]
        m["suite.read_amplification"] = (c["input_records"] / rows
                                         if rows else 0.0)
        wall = run_s + mat_s
        m["suite.executor_busy_ratio"] = (c["task_run_ms"] / 1000.0
                                          / (wall * cores)) if wall else 0.0
        m["suite.gc_s"] = c["gc_ms"] / 1000.0

    m["errors.summary_s"] = s("errors.summary")
    m["errors.cap_s"] = s("errors.cap")
    m["errors.exemplar_rows"] = facts.get("errors.exemplar_rows", 0)

    for k in ("runner.partition_s_p50", "runner.partition_s_max",
              "runner.global_s", "runner.partitions_run",
              "runner.partitions_skipped"):
        if k in facts:
            m[k] = facts[k]
    runs = [tracer.inclusive(n) for n in RUNNER_SPANS]
    m["runner.jobs"] = sum(c["jobs"] for c in runs)
    m["runner.sink_mb_written"] = sum(c["output_bytes"] for c in runs) / MB
    committed = facts.get("runner.rows_committed") or 0
    if committed:
        m["runner.rescan_ratio"] = (tracer.inclusive("runner.resume")[
            "input_records"] / committed)

    traced, untraced = facts.get("pass_traced_s"), facts.get(
        "pass_untraced_s")
    if traced and untraced:
        m["trace.overhead_ratio"] = traced / untraced
    return m


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0
