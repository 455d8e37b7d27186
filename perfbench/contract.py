"""table_contract: a declarative contract profiled on a small lineitem
table (``suggest_rules`` → ``build_ruleset`` → ``save_ruleset`` →
``load_ruleset``) and enforced on a ten-times-larger slice, together with
a (l_orderkey, l_linenumber) uniqueness check, column stats, the per-rule
violation summary and capped exemplars. No binary column, no Python UDF.

The lineitem tables come from a TPC-H-shaped generator in which every
value is a hash of the row index, so any row slice can be generated on
its own. Key ranges scale with the scale factor, so the bounds learned at
sf0.01 are stale at sf0.1 and the MAX rules on the three keys fire on
most rows — violations are pervasive by construction.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import env
from .layers import maybe_span, probe_table

PROFILE_SF, PROFILE_ROWS = 0.01, 60_000
ENFORCE_SF, ENFORCE_ROWS = 0.1, 300_000
SLICES = 4                      # distinct enforced slices a seed can pick
SLICE_STEP = 100_000
ROW_GROUP = 40_000
EXEMPLARS = 20
UNIQUE_KEY = ("l_orderkey", "l_linenumber")
EPOCH = np.datetime64("1992-01-01", "D")
CURRENT = np.datetime64("1995-06-17", "D")


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """SplitMix64 finalizer of (x + salt): a stateless per-row hash."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def lineitem(start: int, n: int, sf: float):
    """Rows [start, start + n) of a TPC-H-shaped lineitem table (the
    11-column layout of the repo's sf test tables) as a pyarrow Table."""
    import pyarrow as pa
    i = np.arange(start, start + n, dtype=np.uint64)
    h = [_mix(i, s) for s in range(1, 8)]
    order = (i // np.uint64(4)).astype(np.int64)
    orderkey = (order // 8) * 32 + order % 8 + 1
    linenumber = (i % np.uint64(4)).astype(np.int32) + 1
    partkey = (h[0] % np.uint64(int(200_000 * sf))).astype(np.int64) + 1
    suppkey = (h[1] % np.uint64(int(10_000 * sf))).astype(np.int64) + 1
    quantity = (h[2] % np.uint64(50)).astype(np.float64) + 1
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1000)) / 100
    extprice = np.round(quantity * retail, 2)
    discount = (h[3] % np.uint64(11)).astype(np.float64) / 100
    tax = (h[4] % np.uint64(9)).astype(np.float64) / 100
    orderdate = EPOCH + (h[5] % np.uint64(2406)).astype("timedelta64[D]")
    shipdate = orderdate + (h[6] % np.uint64(121) + np.uint64(1)
                            ).astype("timedelta64[D]")
    received = shipdate + 30
    returnflag = np.where(received <= CURRENT,
                          np.where(h[2] % np.uint64(2) == 0, "R", "A"), "N")
    linestatus = np.where(shipdate > CURRENT, "O", "F")
    return pa.table({
        "l_orderkey": orderkey, "l_partkey": partkey, "l_suppkey": suppkey,
        "l_linenumber": linenumber, "l_quantity": quantity,
        "l_extendedprice": extprice, "l_discount": discount, "l_tax": tax,
        "l_returnflag": returnflag.astype(object),
        "l_linestatus": linestatus.astype(object),
        "l_shipdate": pa.array(shipdate.astype("datetime64[us]")),
    })


def ensure_lineitem(name: str, start: int, n: int, sf: float) -> tuple:
    """Write the slice once; returns (parquet path, seconds generating)."""
    import pyarrow.parquet as pq
    path = os.path.join(env.cache_dir("inputs"), f"{name}_n{n}.parquet")
    if os.path.exists(path):
        return path, 0.0
    t = time.perf_counter()
    tmp = path + ".tmp"
    pq.write_table(lineitem(start, n, sf), tmp, row_group_size=ROW_GROUP)
    os.replace(tmp, path)
    return path, time.perf_counter() - t


# ---------------------------------------------------------------------------
# DuckDB oracle: per-rule violation counts from the same suggestion params
# ---------------------------------------------------------------------------

def _sql_literal(dtype: str, param: str) -> str:
    base = dtype.split("(")[0]
    if base in ("timestamp", "timestamp_ntz", "date"):
        return f"TIMESTAMP '{param}'"
    if base == "string":
        return "'" + param.replace("'", "''") + "'"
    return param


RULE_SQL = {
    "required": ("REQUIRED", lambda c, p, t: f"{c} IS NULL"),
    "min": ("MIN", lambda c, p, t: f"{c} < {_sql_literal(t, p)}"),
    "max": ("MAX", lambda c, p, t: f"{c} > {_sql_literal(t, p)}"),
    "min_len": ("MIN_LEN", lambda c, p, t: f"strlen({c}) < {int(p)}"),
    "max_len": ("MAX_LEN", lambda c, p, t: f"strlen({c}) > {int(p)}"),
    "regex": ("PATTERN",
              lambda c, p, t: f"NOT regexp_matches({c}, '{p}')"),
    "allowed_values": ("NOTALLOWED", lambda c, p, t: "{} NOT IN ({})".format(
        c, ", ".join(_sql_literal("string", v) for v in p.split(",")))),
}


def duckdb_counts(parquet: str, suggestions: list, dtypes: dict) -> dict:
    """{(field_path, rule_id): violations} computed by DuckDB."""
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET autoinstall_known_extensions = false")
        con.execute("SET autoload_known_extensions = false")
        src = f"read_parquet('{parquet}')"
        keys, exprs = [], []
        for r in suggestions:
            if r["rule"] == "unique":
                continue
            rule_id, pred = RULE_SQL[r["rule"]]
            keys.append((f"/{r['column']}", rule_id))
            exprs.append("count(*) FILTER (WHERE {})".format(
                pred(r["column"], r["param"], dtypes[r["column"]])))
        row = con.execute(f"SELECT {', '.join(exprs)} FROM {src}").fetchone()
        out = {k: v for k, v in zip(keys, row) if v}
        key = ", ".join(UNIQUE_KEY)
        (dups,) = con.execute(
            f"SELECT coalesce(sum(n), 0) FROM (SELECT count(*) n FROM {src} "
            f"WHERE {' AND '.join(c + ' IS NOT NULL' for c in UNIQUE_KEY)} "
            f"GROUP BY {key} HAVING count(*) > 1)").fetchone()
        if dups:
            out[("/" + ",".join(UNIQUE_KEY), "UNIQUE")] = int(dups)
        return out
    finally:
        con.close()


class TableContract:
    min_samples = 3
    name = "table_contract"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.profile_path, self.generated_s = ensure_lineitem(
            "lineitem_profile", 0, PROFILE_ROWS, PROFILE_SF)
        paths = []
        for k in range(SLICES):  # every slice a seed can pick, once
            off = k * SLICE_STEP
            path, secs = ensure_lineitem(f"lineitem_enforce_off{off}", off,
                                         ENFORCE_ROWS, ENFORCE_SF)
            paths.append(path)
            self.generated_s += secs
        self.path = paths[seed % SLICES]
        self.rows = ENFORCE_ROWS
        self.rules_path = os.path.join(env.cache_dir("inputs"),
                                       "lineitem_contract.json")
        self.expected = None

    def open_inputs(self):
        """Profile the small table, compile and persist the contract, load
        it back, open the enforced table; the DuckDB oracle is computed
        once."""
        from protovalidate_spark.dataset import build_ruleset, suggest_rules
        from protovalidate_spark.rules.serde import load_ruleset, save_ruleset
        profile = self.spark.read.parquet(self.profile_path)
        self.suggestions = suggest_rules(profile).collect()
        rules, unique = build_ruleset(self.suggestions, dict(profile.dtypes))
        save_ruleset(rules, self.rules_path)
        self.rules = load_ruleset(self.rules_path)
        self.unique = [list(UNIQUE_KEY)] + unique
        self.df = self.spark.read.parquet(self.path)
        if self.expected is None:
            self.expected = duckdb_counts(self.path, self.suggestions,
                                          dict(self.df.dtypes))

    def suite(self):
        from protovalidate_spark.suite import ValidationSuite
        return ValidationSuite(
            rules=self.rules, row_keys=UNIQUE_KEY, unique=self.unique,
            stats_cols=tuple(self.df.columns),
            max_exemplars_per_rule=EXEMPLARS)

    def warm_up(self):
        """The same pass over the small profiling table."""
        res = self.suite().run(self.spark.read.parquet(self.profile_path),
                               with_stats=True)
        res.violations.collect()
        res.verdicts.collect()
        res.violations_full.unpersist()

    def run_once(self, tracer=None):
        """Enforce the contract: violations summarized per rule, capped
        exemplars, verdict and stats all materialized."""
        from protovalidate_spark.errors import violation_summary
        t = time.perf_counter()
        with maybe_span(tracer, "suite.run"):
            res = self.suite().run(self.df, with_stats=True)
        with maybe_span(tracer, "suite.materialize"):
            summary = violation_summary(res.violations_full).collect()
            exemplars = res.violations.groupBy(
                "field_path", "rule_id").count().collect()
            verdicts = res.verdicts.collect()
            stats = res.stats.collect()
        res.violations_full.unpersist()
        return ((summary, exemplars, verdicts, stats),
                {"pass_s": time.perf_counter() - t})

    def end_to_end(self, samples: list) -> dict:
        from .clips import single_pass_metrics
        return single_pass_metrics(self.rows, samples)

    def check(self, out) -> list:
        summary, exemplars, verdicts, stats = out
        got = {(r["field_path"], r["rule_id"]): r["violations"]
               for r in summary}
        errs = []
        if got != self.expected:
            diff = sorted(k for k in set(got) | set(self.expected)
                          if got.get(k) != self.expected.get(k))
            errs.append(f"per-rule counts differ from DuckDB on {diff}")
        kept = {(r["field_path"], r["rule_id"]): r["count"]
                for r in exemplars}
        if kept != {k: min(v, EXEMPLARS) for k, v in got.items()}:
            errs.append("exemplar cap wrong")
        total = sum(got.values())
        if [(r["rows_scanned"], r["violations"], r["pass"])
                for r in verdicts] != [(self.rows, total, total == 0)]:
            errs.append("verdict wrong")
        if len(stats) != len(self.df.columns) or \
                any(r["n_rows"] != self.rows for r in stats):
            errs.append("stats rows wrong")
        return errs

    def trace_layers(self, tracer) -> dict:
        return probe_table(tracer, self.df, self.suite(),
                           os.path.getsize(self.path))
