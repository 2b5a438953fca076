#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and the harness
(`perfbench/build.py`), generates the workload's inputs from the seed,
runs the harness JVM at local[nproc] (one caller, closed loop: each
operation starts when the previous one ends), checks the outputs, prints
a table of metrics and, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones from
a traced run, whose spans and counters go to
`.bench_work/trace-<workload>-s<seed>.json`.

Workloads: virapipe_fastq (the 8-stage pipeline over paired FASTQ) and
driver_ladders (multi-job operators: IVF maintenance, GD training,
LSH + connected components, snapshot commits + stream, and the SQL
tools' short queries).
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK_ROOT = ".bench_work"
HEAP = "2g"
JVM_TIMEOUT_S = 170

# driver_ladders: (stream kind, name, span name); the SQL tools' queries
# are appended as one `tools` operation.
LADDERS = [("ivf", "q354_ivf_index_optimize", "-"),
           ("ladder", "q312_quality_classifier", "operators.lr_train"),
           ("ladder", "q66_dedup_clusters", "operators.cc"),
           ("streamsrc", "q272_stream_source", "-")]

PAIRS = {"samples": 8, "pairs_per_sample": 150}
LADDER_SF = 0.01
LADDER_TABLES = ("documents", "embeddings")

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("items_per_s", "1/s"), ("peak_rss_mb", "MB")]
# Printed with the end-to-end metrics but not bounded: the median of a
# pass's 5-6 operations jumps between operations (its spread over seeds
# exceeded 0.25), a run holds too few operations for a percentile with
# ten samples beyond it, and no run fails.
UNBOUNDED = [("op_p50_s", "s"), ("op_tail_s", "s"), ("failed_frac", "ratio")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def runner_queries(rng):
    """The SQL tools' templates with seeded literals, over `records`."""
    motif = "".join(rng.choice("ACGT") for _ in range(rng.randint(3, 5)))
    return [
        ("fastq", "domain/fastq",
         f"SELECT key, sequence FROM records WHERE sequence LIKE '%{motif}%'"),
        ("sam", "domain/sam",
         f"SELECT referenceName AS ref, count(*) AS n, sum(mapq) AS sum_mapq "
         f"FROM records WHERE mapq >= {rng.randint(0, 50)} AND referenceName <> '*' "
         f"GROUP BY referenceName"),
        ("blast", "domain/blast",
         f"SELECT qseqid, max(bitscore) AS best FROM records "
         f"WHERE pident >= {rng.randint(50, 95)} GROUP BY qseqid"),
        ("blast", "domain/blast",
         f"SELECT sseqid, count(*) AS n, max(pident) AS best_pident FROM records "
         f"WHERE evalue <= 1e-{rng.randint(2, 40)} GROUP BY sseqid"),
    ]


def generate(workload, seed, in_dir):
    """Writes the workload's inputs; returns their sizes and row counts."""
    rng = random.Random(seed)
    info = {}
    if workload == "virapipe_fastq":
        info["fastq"] = gen.fastq_pairs(seed, os.path.join(in_dir, "fastq"), **PAIRS)
        return info
    info["tables"] = gen.tables(seed, os.path.join(in_dir, "tables"), LADDER_SF, LADDER_TABLES)
    info["domain"] = gen.domain_files(seed, os.path.join(in_dir, "domain"))
    ops = LADDERS + [("tools", "sql_tools") + sum(runner_queries(rng), ())]
    rng.shuffle(ops)
    with open(os.path.join(in_dir, "stream.tsv"), "w") as f:
        f.write("".join("\t".join(o) + "\n" for o in ops))
    info["ops"] = [list(o) for o in ops]
    return info


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def host_calibration_s():
    """Seconds for a fixed pure-Python loop: a slow or contended host
    shows in the run's own record."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graft.perfbench.Main",
              "--workload", args.workload, "--work", work, "--cores", str(cores),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S} s; see {work}/jvm.log")
    if code != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise SystemExit(f"harness exited {code}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def end_to_end(workload, res, info, gen_s):
    timed = [p for p in res["passes"] if p["id"].startswith("p")]
    warm = next(p for p in res["passes"] if p["id"] == "warmup")
    op_s = [o["seconds"] for p in timed for o in p["ops"]]
    pass_s = metrics.median([p["seconds"] for p in timed])
    pct, tail_v, n = metrics.tail(op_s)
    if workload == "virapipe_fastq":
        items = info["fastq"]["pairs"]
    else:
        items = len(info["ops"])
    return {
        "setup_s": gen_s + metrics.median(res["setup_s"]) + warm["seconds"],
        "pass_s": pass_s,
        "op_p50_s": metrics.median(op_s),
        "op_tail_s": tail_v,
        "items_per_s": items / pass_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"tail_percentile": pct, "op_samples": n, "passes": len(timed)}


ALIASES = {"virapipe_fastq": {"items_per_s": ("read_pairs_per_s", "pairs/s")}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["virapipe_fastq", "driver_ladders"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    build.build()
    cores = nproc()
    calib_s = host_calibration_s()
    work = os.path.abspath(os.path.join(WORK_ROOT, args.workload))
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    t0 = time.perf_counter()
    info = generate(args.workload, args.seed, in_dir)
    gen_s = time.perf_counter() - t0
    info["input_bytes"] = dir_bytes(in_dir)

    t1 = time.perf_counter()
    res = run_jvm(args, work, cores)
    t2 = time.perf_counter()

    timed = [p for p in res["passes"] if p["id"].startswith("p")]
    attempted = sum(len(p["ops"]) for p in timed)
    errors = [(o["name"], o["error"]) for p in timed for o in p["ops"] if not o["ok"]]
    if args.workload == "virapipe_fastq":
        fails, counts = check.virapipe(os.path.join(in_dir, "fastq"), os.path.join(work, "out"))
        info["rows"] = counts
        # a wrong output counts against every pass that produced it
        wrong = [(f.split(":")[0], f) for f in fails] * len(timed)
    else:
        fails, counts = check.results(in_dir, work, info["ops"], res["passes"],
                                      res["oracle_sql"])
        info["rows"] = counts
        # an oracle mismatch counts against every pass of that op
        bad = {n: m for n, m in fails if not m.startswith("pass ")}
        wrong = [(n, m) for n, m in fails if m.startswith("pass ")] + [
            (o["name"], bad[o["name"]]) for p in timed for o in p["ops"] if o["name"] in bad]
    failed = min(attempted, len(errors) + len(wrong))
    check_s = time.perf_counter() - t2

    e2e, detail = end_to_end(args.workload, res, info, gen_s)
    context = {"workload": args.workload, "seed": args.seed, "nproc": cores,
               "heap_max_mb": res["heap_max_mb"], "loadavg_before": res["loadavg_before"],
               "loadavg_after": res["loadavg_after"], "inputs": info, "gen_s": gen_s,
               "setup_runs_s": res["setup_s"], **detail,
               "harness_s": t2 - t1, "check_s": check_s, "host_calibration_s": calib_s,
               "pass_s_all": [p["seconds"] for p in res["passes"]],
               "failed_frac": failed / attempted}
    print("context " + json.dumps(context, sort_keys=True))
    for name, msg in errors:
        print(f"FAILED {name}: {msg}")
    for name, msg in sorted(set(wrong)):
        print(f"WRONG {name}: {msg}")

    if args.trace:
        with open(os.path.join(work, "trace.json")) as f:
            trace = json.load(f)
        layer = metrics.per_layer(trace, res["passes"], cores)
        out_metrics = {n: {"value": layer[n], "unit": u} for n, u in metrics.PER_LAYER}
        trace["per_layer"] = layer
        trace["context"] = context
        with open(os.path.join(WORK_ROOT, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(trace, f)
        print(f"{'layer metric':34s} {'value':>12s}  unit")
        for n, u in metrics.PER_LAYER:
            print(f"{n:34s} {metrics.fmt(layer[n]):>12s}  {u}")
    else:
        out_metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        print(f"{'metric (' + args.workload + ')':34s} {'value':>12s}  unit")
        e2e["failed_frac"] = failed / attempted
        for n, u in END_TO_END + UNBOUNDED:
            alias, au = ALIASES.get(args.workload, {}).get(n, (None, None))
            label = f"{n} = {alias}" if alias else n
            if n == "op_tail_s":
                label += f" (p{detail['tail_percentile']:.0f} of n={detail['op_samples']})"
            print(f"{label:34s} {metrics.fmt(e2e[n]):>12s}  {au or u}")
    # inputs and outputs are large; keep only the records
    for sub in ("in", "out", "results", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
