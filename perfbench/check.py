"""Output checks and statistics for one benchmark run.

The program reports, per op part, its time, row count and an
order-independent digest of its output rows. This module computes the same
digest over the DuckDB oracle (`SparkEntry.oracleSql`) for the run's inputs,
marks every op whose output differs or that threw as failed, and derives the
metrics from the ops that passed. A failed op is counted, never timed.
"""
import hashlib
import json
import os
import statistics

import duckdb

MASK = (1 << 64) - 1

WORKLOADS = ["crawl_build", "small_queries"]

# crawl_build's refresh slices: slice j refreshes the stale subjects with
# doc_id % 100 == 10 * j + 5 (perfbench/src/Workloads.scala).
SLICES = 10


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return "%.9e" % v
    return str(v)


def row_hash(row):
    h = hashlib.md5("\x1f".join(map(render, row)).encode()).digest()
    return int.from_bytes(h[:8], "big", signed=True)


def digest(hashes):
    return "%016x" % (sum(hashes) & MASK)


def expected(workload, oracle_sql, tables):
    """{check key: (rows, digest)} from the oracle over the run's tables."""
    con = duckdb.connect()
    for name, path in tables.items():
        if os.path.isdir(path):  # as Spark writes it
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def run(name):
        hs = [row_hash(r) for r in con.sql(oracle_sql[name]).fetchall()]
        return len(hs), digest(hs)

    out = {name: run(name) for name in oracle_sql}
    if workload == "crawl_build":
        # the store view after slice j alone: every stale subject outside
        # slice j keeps its stale triples, which the oracle does not cover
        rows = con.sql(oracle_sql["kg_canonical"]).fetchall()
        mods = [int(r[0].rstrip("/").rsplit("proj", 1)[1]) % 100 for r in rows]
        hashes = [row_hash(r) for r in rows]
        for j in range(SLICES):
            hs = [h for h, m in zip(hashes, mods) if m % 10 != 5 or m == 10 * j + 5]
            out[f"view@{j}"] = (len(hs), digest(hs))
    con.close()
    return out


def verify(ops, exp):
    """Marks each op ok or failed in place. A part with an empty check key
    is checked by a later part of its op."""
    for op in ops:
        op["ok"] = True
        op["why"] = ""
        for p in op["parts"]:
            if p["error"]:
                op["ok"], op["why"] = False, f"{p['name']}: {p['error']}"
            elif p["check"]:
                want = exp.get(p["check"])
                if want is None:
                    op["ok"], op["why"] = False, f"no oracle for {p['check']}"
                elif (p["rows"], p["digest"]) != tuple(want):
                    op["ok"] = False
                    op["why"] = (f"{p['name']}: {p['rows']} rows, digest "
                                 f"{p['digest']}; oracle {want[0]} rows, "
                                 f"digest {want[1]}")
    return ops


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def summary(result):
    """{metric: (value, unit)} and notes: op figures over the passing ops of
    the timed window, plus set-up, cold-op and memory figures. None when no
    timed op passed."""
    ops = result["ops"]
    timed = [o for o in ops if o["phase"] == "timed" and o["ok"]]
    if not timed:
        return None
    secs = [o["s"] for o in timed]
    tail_v, tail_p, tail_n = tail(secs)
    rows_in = sum(p["input_rows"] for o in timed for p in o["parts"])
    cold = ops[0]
    m = {
        # CPU seconds, like op_cpu_s_p50: wall-clock set-up drifts with the
        # load of a shared machine by more than a regression bound
        "setup_s": (result["session_cpu_s"] + statistics.median(result["materialize_cpu_s"])
                    + result["prepare_cpu_s"], "s"),
        "setup_wall_s": (result["session_s"] + statistics.median(result["materialize_s"])
                         + result["prepare_s"], "s"),
        "cold_s": (cold["s"] if cold["ok"] else None, "s"),
        "cold_cpu_s": (cold["cpu_s"] if cold["ok"] else None, "s"),
        "op_s_p50": (statistics.median(secs), "s"),
        "op_cpu_s_p50": (statistics.median(o["cpu_s"] for o in timed), "s"),
        "op_s_tail": (tail_v, "s"),
        "input_rows_per_s": (rows_in / sum(secs), "rows/s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    notes = {"op_s_tail": f"p{tail_p:.0f} of {tail_n} ops",
             "input_rows_per_s": f"{rows_in // len(timed)} input rows per op"}
    return m, notes


def part_medians(result):
    """Median time per op-part name over passing untraced timed ops."""
    by = {}
    for o in result["ops"]:
        if o["phase"] == "timed" and o["ok"]:
            for p in o["parts"]:
                by.setdefault(p["name"], []).append(p["s"])
    return {k: statistics.median(v) for k, v in by.items()}


def error_rate(ops):
    return sum(not o["ok"] for o in ops) / len(ops)


def load(path):
    with open(path) as f:
        return json.load(f)
