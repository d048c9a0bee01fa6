"""Per-layer metrics of a traced run, from the span file and the op records.

A traced op is a tree of spans: the op, one span per part (one call into
the engine), and under each part its cumulative prefix actions followed by
the call itself. Prefix k runs everything prefix k-1 ran plus one layer, so
a layer's self time is the growth in stage-busy time from the previous
prefix, clipped at 0. The fixed `spark` layer is the call's own wall time
not covered by any running stage (`dispatch.gap_s`). If every prefix cost
at most what the next one did, the self times plus the gap would add up to
the calls' wall time exactly; `trace.accounted_share` is 1 minus their
distance from it, as a share of that wall time, so a prefix that ran longer
than the one after it lowers the share. `trace.overhead_ratio` is the
traced op's whole wall time, prefixes included, over the untraced op's.
Spans outside any op (the micro pass's) carry op -1 and are skipped here.

Every metric is reported on every workload; a layer a workload does not
exercise reads 0.
"""
import json
import statistics

import check

FAMILIES = ["package_json", "cargo_toml", "pyproject_toml", "package_yaml",
            "debian", "cabal", "setup_py", "dist_ini", "readme"]

# Parts whose call is the incremental layer, by the metric prefix they feed.
INCREMENTAL = {"append_delta": "delta", "current_triples": "view"}

# Untraced median time per part, by the metric it is reported as.
PART_MEDIANS = {"build_s_p50": "kg_job", "delta_s_p50": "append_delta",
                "view_s_p50": "current_triples", "enrich_s_p50": "kg_full_enrich",
                "ann_s_p50": "ann_lsh", "dedup_s_p50": "dedup_pipeline"}

NAMES = (
    ["scan.rows", "scan.bytes", "scan.self_s",
     "candidate.rows_in", "candidate.rows_out", "candidate.keep_ratio",
     "candidate.self_s",
     "exchange.count", "exchange.write_bytes", "exchange.read_bytes",
     "exchange.fetch_wait_s", "exchange.spill_bytes",
     "summarize.self_s", "summarize.cpu_s", "summarize.subjects",
     "summarize.triples", "summarize.us_per_subject"]
    + [f"extract.{f}.us_per_file" for f in FAMILIES]
    + ["enrich.self_s", "enrich.triples_out", "registry.us_per_payload",
       "sink.self_s", "sink.files", "sink.bytes", "sink.bytes_per_triple",
       "sinks.yaml_us_per_subject",
       "delta.self_s", "delta.files", "delta.bytes", "view.self_s",
       "view.bytes_scanned",
       "lsh.self_s", "lsh.task_skew", "lsh.max_bucket",
       "lsh.candidate_pairs", "lsh.output_rows",
       "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
       "codegen.compile_s", "codegen.classes",
       "dispatch.jobs", "dispatch.stages", "dispatch.tasks", "dispatch.gap_s",
       "dispatch.idle_core_s", "jvm.gc_s", "tasks.failed", "stages.retried",
       "build_s_p50", "delta_s_p50", "view_s_p50", "enrich_s_p50",
       "ann_s_p50", "dedup_s_p50",
       "op_s_p50", "op_s_tail", "input_rows_per_s", "cold_s", "cold_cpu_s",
       "setup_wall_s", "peak_rss_mb", "error_rate",
       "trace.overhead_ratio", "trace.accounted_share", "trace.spans"])

def unit(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf == "idle_core_s":
        return "core-s"
    if leaf == "input_rows_per_s":
        return "rows/s"
    if leaf.endswith("_s") or leaf.endswith("_s_p50") or leaf.endswith("_s_tail"):
        return "s"
    if "us_per" in leaf:
        return "us"
    if "bytes" in leaf:
        return "bytes"
    if leaf in ("keep_ratio", "task_skew", "overhead_ratio", "accounted_share",
                "error_rate"):
        return "ratio"
    if leaf == "peak_rss_mb":
        return "MB"
    return "count"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def metrics(result, spans_path, e2e):
    """{name: value} for every name in NAMES; `e2e` is check.summary's
    output for the same run, whose ungated metrics are reported here."""
    spans = [json.loads(l) for l in open(spans_path) if l.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    cores = result["cores"]
    ops = {o["i"]: o for o in result["ops"]}

    per_op = []  # one {metric: value} per traced op
    traced_wall = []
    for root in kids.get(-1, []):
        op = ops.get(root["op"])
        if op is None or not op["ok"]:
            continue
        traced_wall.append(root["wall_s"])
        acc = {}

        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v

        parts = {p["name"]: p for p in op["parts"]}
        accounted, call_wall = 0.0, 0.0
        for part in sorted(kids.get(root["id"], []), key=lambda s: s["id"]):
            chain = sorted(kids.get(part["id"], []), key=lambda s: s["id"])
            call = chain[-1]
            prev_busy, prev_cpu = 0.0, 0.0
            for s in chain:
                layer = INCREMENTAL.get(part["name"], s["name"]) \
                    if s is call else s["name"]
                self_s = max(0.0, s["busy_s"] - prev_busy)
                add(f"{layer}.self_s", self_s)
                accounted += self_s
                if layer == "summarize":
                    add("summarize.cpu_s", max(0.0, s["task_cpu_s"] - prev_cpu))
                if s["name"] == "scan":
                    add("scan.rows", s["in_records"])
                    add("scan.bytes", s["in_bytes"])
                prev_busy, prev_cpu = s["busy_s"], s["task_cpu_s"]
            gap = max(0.0, call["wall_s"] - call["busy_s"])
            accounted += gap
            call_wall += call["wall_s"]
            add("dispatch.gap_s", gap)
            add("dispatch.idle_core_s", cores * call["wall_s"] - call["task_run_s"])
            for k, f in [("exchange.count", "shuffle_stages"),
                         ("exchange.write_bytes", "shuffle_write_bytes"),
                         ("exchange.read_bytes", "shuffle_read_bytes"),
                         ("exchange.fetch_wait_s", "fetch_wait_s"),
                         ("exchange.spill_bytes", "spill_bytes"),
                         ("plan.analysis_s", "analysis_s"),
                         ("plan.optimization_s", "optimization_s"),
                         ("plan.planning_s", "planning_s"),
                         ("codegen.compile_s", "codegen_s"),
                         ("codegen.classes", "codegen_classes"),
                         ("dispatch.jobs", "jobs"), ("dispatch.stages", "stages"),
                         ("dispatch.tasks", "tasks"), ("jvm.gc_s", "jvm_gc_s"),
                         ("tasks.failed", "failed_tasks"),
                         ("stages.retried", "retried_stages")]:
                add(k, call[f])
            rec = parts[part["name"]]
            for k, v in rec["extra"].items():
                add(k, v)
            if call["name"] == "enrich":
                add("enrich.triples_out", rec["rows"])
            if call["name"] == "lsh":
                add("lsh.output_rows", rec["rows"])
            if part["name"] == "current_triples":
                add("view.bytes_scanned", call["in_bytes"])
            if part["name"] == "kg_job" and rec["rows"] > 0:
                acc["sink.bytes_per_triple"] = acc.get("sink.bytes", 0.0) / rec["rows"]
        if call_wall > 0:
            acc["trace.accounted_share"] = 1 - abs(accounted - call_wall) / call_wall
        per_op.append(acc)

    base = _median([o["s"] for o in result["ops"] if o["phase"] == "timed" and o["ok"]])

    out = {n: 0.0 for n in NAMES}
    keys = {k for acc in per_op for k in acc}
    for k in keys:
        # a metric is the median over the traced ops that touch its layer
        out[k] = _median([acc[k] for acc in per_op if k in acc])
    micro = result["micro"]
    out.update({k: v for k, v in micro.items() if k in out})
    if micro.get("candidate.rows_in"):
        out["candidate.keep_ratio"] = micro["candidate.rows_out"] / micro["candidate.rows_in"]
    med = check.part_medians(result)
    for name, part in PART_MEDIANS.items():
        out[name] = med.get(part, 0.0)
    for name in ("op_s_p50", "op_s_tail", "input_rows_per_s", "cold_s",
                 "cold_cpu_s", "setup_wall_s", "peak_rss_mb"):
        out[name] = e2e[name][0] or 0.0
    out["error_rate"] = check.error_rate(result["ops"])
    if base > 0:
        out["trace.overhead_ratio"] = _median(traced_wall) / base
    out["trace.spans"] = float(len(spans))
    return {n: out[n] for n in NAMES}
