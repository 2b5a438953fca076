"""Metric arithmetic: medians, tail percentiles, span unions, per-layer
figures computed from a trace file."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """Highest nearest-rank percentile with at least `beyond` samples above
    it, as (percentile, value, n). With `beyond` samples or fewer no such
    percentile exists and the maximum is returned as percentile 100."""
    v = sorted(xs)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return 100.0, v[-1], n
    k = n - beyond - 1          # index with exactly `beyond` samples above
    return 100.0 * (k + 1) / n, v[k], n


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"), ("spark.plan_s", "s"), ("spark.task_s", "s"),
    ("spark.busy_frac", "ratio"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.straggler_s", "s"),
    ("spark.gc_s", "s"), ("spark.failed_tasks", "count"),
    ("io.fastq_read_s", "s"), ("io.fastq_mb", "MB"), ("io.sink_s", "s"), ("io.sink_mb", "MB"),
    ("io.domain_load_s", "s"),
    ("functions.kmers_s", "s"), ("functions.kmers", "count"),
    ("operators.interleave_s", "s"), ("operators.normalize_s", "s"),
    ("operators.normalize_keep_ratio", "ratio"), ("operators.blast_filter_s", "s"),
    ("operators.blast_pass_ratio", "ratio"), ("operators.orf_s", "s"),
    ("operators.recompute_ratio", "ratio"),
    ("pipe.align_s", "s"), ("pipe.assemble_s", "s"), ("pipe.blastn_s", "s"),
    ("pipe.hmmsearch_s", "s"), ("pipe.processes", "count"),
] + [(f"operators.{op}{suffix}", unit)
     for op in ("ivf_build", "ivf_append", "ivf_optimize", "ivf_search", "lr_train",
                "cc", "snapshot_commit")
     for suffix, unit in (("_s", "s"), (".jobs", "count"))] + [
    ("streaming.run_s", "s"), ("streaming.batches", "count"), ("streaming.batch_p50_s", "s"),
    ("sql.plan_s", "s"), ("sql.exec_s", "s"), ("sql.jobs_per_query", "count"),
    ("trace.overhead_s", "s"),
]

# Probe spans whose pinned task time adds up to one pipeline pass.
PIPELINE_LAYERS = ("io.fastq_read", "operators.interleave", "pipe.align", "operators.normalize",
                   "pipe.assemble", "pipe.blastn", "operators.blast_filter", "operators.orf",
                   "pipe.hmmsearch")


def per_layer(trace, passes, cores):
    """Per-layer figures from a trace; per-pass figures are medians over
    the traced timed passes. `passes` is the result's pass list."""
    spans = trace["spans"]
    jobs = trace["jobs"]
    stage_by_id = {}
    for s in trace["stages"]:
        stage_by_id[s["id"]] = s
    tasks_by_stage = {}
    for t in trace["tasks"]:
        tasks_by_stage.setdefault(t[0], []).append(t)

    def jobs_in(s, e):
        return [j for j in jobs if s <= j["start"] <= e]

    def spark_figures(s, e):
        js = jobs_in(s, e)
        stage_ids = {sid for j in js for sid in j["stages"] if sid in stage_by_id}
        ts = [t for sid in stage_ids for t in tasks_by_stage.get(sid, [])]
        wall = (e - s) / 1e3
        task_s = sum(t[1] for t in ts) / 1e3
        strag = 0.0
        for sid in stage_ids:
            d = [t[7] for t in tasks_by_stage.get(sid, [])]
            if d:
                strag += (max(d) - median(d)) / 1e3
        return {
            "spark.jobs": len(js), "spark.stages": len(stage_ids), "spark.tasks": len(ts),
            "spark.driver_gap_s": wall - union_length([(j["start"], j["end"]) for j in js]) / 1e3,
            "spark.plan_s": sum(p[1] for p in trace["plans"] if s <= p[0] <= e) / 1e3,
            "spark.task_s": task_s,
            "spark.busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
            "spark.shuffle_write_mb": sum(t[3] for t in ts) / 1e6,
            "spark.shuffle_read_mb": sum(t[4] for t in ts) / 1e6,
            "spark.spill_mb": sum(t[5] for t in ts) / 1e6,
            "spark.straggler_s": strag,
            "spark.gc_s": sum(t[2] for t in ts) / 1e3,
            "spark.failed_tasks": sum(1 for t in ts if t[6]),
        }

    timed = [p["id"] for p in passes if p["id"].startswith("p")]
    pass_spans = [s for s in spans if s["name"] == "pass" and s["pass"] in timed]
    out = {name: 0.0 for name, _ in PER_LAYER}
    per_pass = [spark_figures(s["start"], s["end"]) for s in pass_spans]
    for k in per_pass[0] if per_pass else []:
        out[k] = median([f[k] for f in per_pass])

    def dur(name, pass_id):
        return sum((s["end"] - s["start"]) / 1e3 for s in spans
                   if s["name"] == name and s["pass"] == pass_id)

    def per_pass_median(name):
        return median([dur(name, p) for p in timed])

    def counters(name, pass_id=None):
        return [c["value"] for c in trace["counters"]
                if c["name"] == name and (pass_id is None or c["pass"] == pass_id)]

    for name in ("io.sink", "io.domain_load"):
        out[name + "_s"] = per_pass_median(name)
    out["io.sink_mb"] = median(counters("io.sink_bytes")) / 1e6
    # layer probe (pinned inputs, one stage at a time)
    probe = {"io.fastq_read": "io.fastq_read_s", "functions.kmers": "functions.kmers_s",
             "operators.interleave": "operators.interleave_s",
             "operators.normalize": "operators.normalize_s",
             "operators.blast_filter": "operators.blast_filter_s", "operators.orf": "operators.orf_s",
             "pipe.align": "pipe.align_s", "pipe.assemble": "pipe.assemble_s",
             "pipe.blastn": "pipe.blastn_s", "pipe.hmmsearch": "pipe.hmmsearch_s"}
    for span_name, metric in probe.items():
        out[metric] = dur(span_name, "probe")
    out["io.fastq_mb"] = sum(counters("io.fastq_bytes", "probe")) / 1e6
    out["functions.kmers"] = sum(counters("functions.kmers", "probe"))
    out["pipe.processes"] = sum(counters("pipe.processes", "probe"))
    n_in, n_out = sum(counters("operators.normalize_in")), sum(counters("operators.normalize_out"))
    out["operators.normalize_keep_ratio"] = n_out / n_in if n_in else 0.0
    b_in, b_out = sum(counters("operators.blast_in")), sum(counters("operators.blast_out"))
    out["operators.blast_pass_ratio"] = b_out / b_in if b_in else 0.0
    layer_task_s = sum(spark_figures(s["start"], s["end"])["spark.task_s"] for s in spans
                       if s["pass"] == "probe" and s["name"] in PIPELINE_LAYERS)
    if layer_task_s > 0:
        out["operators.recompute_ratio"] = out["spark.task_s"] / layer_task_s
    # ladders: span time and jobs per pass
    for op in ("ivf_build", "ivf_append", "ivf_optimize", "ivf_search", "lr_train", "cc",
               "snapshot_commit"):
        name = f"operators.{op}"
        out[name + "_s"] = per_pass_median(name)
        out[name + ".jobs"] = median([sum(len(jobs_in(s["start"], s["end"])) for s in spans
                                          if s["name"] == name and s["pass"] == p) for p in timed])
    out["streaming.run_s"] = per_pass_median("streaming.run")
    out["streaming.batches"] = median([sum(counters("streaming.batches", p)) for p in timed])
    out["streaming.batch_p50_s"] = median(counters("streaming.batch_s"))
    # SQL: per op, median over ops of the traced passes
    out["sql.plan_s"] = median([(s["end"] - s["start"]) / 1e3 for s in spans
                                if s["name"] == "sql.plan" and s["pass"] in timed])
    out["sql.exec_s"] = median([(s["end"] - s["start"]) / 1e3 for s in spans
                                if s["name"] == "sql.exec" and s["pass"] in timed])
    plans = [s for s in spans if s["name"] == "sql.plan" and s["pass"] in timed]
    execs = [s for s in spans if s["name"] == "sql.exec" and s["pass"] in timed]
    out["sql.jobs_per_query"] = median([len(jobs_in(p["start"], e["end"]))
                                        for p, e in zip(plans, execs)])
    untraced = [p["seconds"] for p in passes if p["id"].startswith("untraced")]
    traced = [p["seconds"] for p in passes if p["id"] in timed]
    if untraced and traced:
        out["trace.overhead_s"] = median(traced) - sum(untraced) / len(untraced)
    return {k: float(v) for k, v in out.items()}


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) and not math.isnan(v) else str(v)
