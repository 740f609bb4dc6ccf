#!/usr/bin/env python3
"""Benchmark of the graft engine: three closed-loop workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run builds the engine and the
harness from source into ``.bench_build/perfbench`` (reused while the
sources are unchanged), generates the workload's inputs from ``--seed``
into ``.bench_work``, computes the expected results with DuckDB, and then
runs one JVM (``perfbench.Main``): set-up, an untimed verify pass, warm-up
passes and ``--seconds`` of timed passes. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones from the Spark
listeners. The last line of standard output is the JSON result; the line
before it is the full run record (sample counts, tail percentile, host,
input sizes and the metrics that apply only to some workloads).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)

import expected  # noqa: E402
import gen  # noqa: E402

ANALYTICS = ["analytics_events_by_page", "analytics_song_artist_grouping_sets",
             "analytics_title_match_rate", "analytics_unmatched_plays",
             "analytics_search_artists", "analytics_plays_by_level_and_season",
             "analytics_user_activity"]

# name -> ops in pass order, inputs, warm-up passes
WORKLOADS = {
    "sparkify_etl": {
        "ops": ["etl"], "sparkify": True, "sf": False, "land": False,
        "warm": 2,
    },
    "star_analytics": {
        "ops": ANALYTICS + [
            "q_j4_star_join", "q_a3_grouping_sets", "q_w_sessionize",
            "q_tpch_q3_shipping", "q_tpch_q5_local_supplier",
            "q_tpch_q9_profit", "q_tpch_q18_large_orders",
            "q_tpch_q21_waiting"],
        "sparkify": True, "sf": True, "land": True, "warm": 1,
    },
    "pipeline_barriers": {
        "ops": ["q_x_assoc_rules", "q_x_dedup_minhash", "q_x_corr_matrix",
                "q_x_quantile_sketch_anchor", "q_s_stream_distinct"],
        "sparkify": False, "sf": True, "land": False, "warm": 1,
    },
}

SPARKIFY_SIZE = {"n_events": 20000, "n_songs": 2000, "n_users": 100}
SF_SCALE = 0.5

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "op_p50_s": "s",
             "input_rows_per_s": "1/s", "live_heap_peak_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """The Spark install's jars: $SPARK_JARS, $SPARK_HOME/jars, or the
    jars/ beside the bin/ of a spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    candidates = [os.environ.get("SPARK_JARS"), home and os.path.join(home, "jars")]
    candidates += [os.path.join(os.path.dirname(os.path.realpath(b)), "jars")
                   for b in os.environ.get("PATH", "").split(os.pathsep)
                   if b and os.path.exists(os.path.join(b, "spark-submit"))]
    for d in candidates:
        if d and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: engine sources missing under {main}")
    files = []
    for top in (main, os.path.join(BENCH, "scala")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile the engine and harness with scalac; reuse while unchanged."""
    files = sources()
    jars = spark_jars()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    classes = os.path.join(out, "classes")
    digest = hashlib.sha256(jars.encode())
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest.hexdigest():
                return classes, jars
    t = time.time()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{k}-2.13*.jar"))[0]
                        for k in ("compiler", "library", "reflect"))
    with open(os.path.join(out, "sources.txt"), "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes,
           "@" + os.path.join(out, "sources.txt")]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    ops = sorted({o for w in WORKLOADS.values() for o in w["ops"]
                  if o.startswith("q_")})
    r = subprocess.run(jvm_base(classes, jars, "1g") +
                       ["perfbench.Main", "oracle", os.path.join(out, "oracle_sql.json"),
                        ",".join(ops)], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit("perfbench: oracle dump failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    log(f"built in {time.time() - t:.1f} s")
    return classes, jars


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm_base(classes, jars, heap, tmp=None):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    return cmd + ["-cp", f"{classes}:{os.path.join(jars, '*')}"]


def heap_size():
    """MemTotal / 2 in whole GiB, clamped to [2, 8]: the heap rule of the
    repository's test runs."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- metrics

def tail(samples, min_beyond=10):
    """Highest whole percentile with at least ``min_beyond`` samples above
    it (nearest rank), as (value, percentile), or None when even the median
    has fewer."""
    xs = sorted(samples)
    n = len(xs)
    for pct in range(99, 49, -1):
        rank = -(-pct * n // 100)  # ceil
        if n - rank >= min_beyond:
            return xs[rank - 1], pct
    return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(rec, inputs):
    passes = rec["passes"]
    ok = [o for p in passes for o in p["ops"] if o["ok"]]
    op_s = [o["s"] for o in ok]
    wall = median([p["wall_s"] for p in passes])
    m = {
        "setup_s": (rec["setup_s"], 1),
        "wall_s": (wall, len(passes)),
        "cpu_s": (median([p["cpu_s"] for p in passes]), len(passes)),
        "op_p50_s": (median(op_s), len(op_s)),
        "input_rows_per_s": (inputs["rows"] / wall, len(passes)),
        "live_heap_peak_mb": (max(rec["heap_after_gc_mb"]),
                              len(rec["heap_after_gc_mb"])),
    }
    return m, op_s


def layer_metrics(rec, spans):
    """Per-pass sums over traced passes, reported as medians."""
    cores = rec["host"]["spark_cores"]
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    per_pass = []
    for p in traced:
        ops = [o for o in p["ops"] if o["ok"]]
        L = [o["layers"] for o in ops]
        s = lambda k: sum(x[k] for x in L)
        plan = lambda k: sum(x["plan_s"].get(k, 0.0) for x in L)
        build_s = sum(o["build_s"] for o in ops)
        task_s = s("task_s")
        row = {
            "build.s": build_s, "build.jobs": s("build_jobs"),
            "build.share": build_s / p["wall_s"],
            "plan.analysis_s": plan("analysis"),
            "plan.optimizer_s": plan("optimization"),
            "plan.planning_s": plan("planning"),
            "exec.s": sum(o["exec_s"] for o in ops), "exec.jobs": s("exec_jobs"),
            "exec.stages": s("stages"), "exec.stages_skipped": s("stages_skipped"),
            "exec.tasks": s("tasks"), "exec.task_s": task_s,
            "exec.cpu_s": s("cpu_s"), "exec.gc_s": s("gc_s"),
            "exec.slot_wait_s": s("slot_wait_s"),
            "exec.core_busy": task_s / (p["wall_s"] * cores),
            "exec.shuffle_read_mb": s("shuffle_read_mb"),
            "exec.shuffle_write_mb": s("shuffle_write_mb"),
            "exec.spill_mb": s("spill_mb"), "exec.failed_tasks": s("failed_tasks"),
            "sources.input_rows": s("input_rows"), "sources.input_mb": s("input_mb"),
            "sources.output_rows": s("output_rows"),
            "sources.output_mb": s("output_mb"),
            "sources.files_written": sum(o["files_written"] for o in ops),
            "etl.readback_jobs": s("readback_jobs"),
            "streaming.batches": s("batches"),
            "streaming.empty_batches": s("empty_batches"),
            "streaming.batch_s": s("batch_s"), "streaming.state_rows": s("state_rows"),
            "jvm.gc_s": p["gc_s"],
        }
        for t in expected.STAR_TABLES:
            row[f"etl.{t}.s"] = sum(x["etl_s"].get(t, 0.0) for x in L)
        per_pass.append((p["index"], row))
    out = {k: median([r[k] for _, r in per_pass]) for k in per_pass[0][1]}

    # self time per layer from the span tree, per traced pass
    by_pass = {}
    for sp in spans:
        if sp["kind"] == "pass":
            idx = int(sp["name"].split()[1])
        elif sp["op"]:
            idx = int(sp["op"].split(".")[0][1:])
        else:
            continue
        d = by_pass.setdefault(idx, {})
        d[sp["kind"]] = d.get(sp["kind"], 0.0) + sp["self_ms"] / 1e3
    for kind in ("pass", "op", "build", "plan", "exec", "job", "stage", "batch"):
        out[f"self.{kind}_s"] = median([by_pass.get(i, {}).get(kind, 0.0)
                                        for i, _ in per_pass])
    out.update({
        "session.start_s": rec["session_start_s"],
        "warm.s": rec["verify_s"] + rec["warm_s"] - rec["compare_s"],
        "harness.gen_s": rec["harness"]["gen_s"],
        "jvm.jit_s": rec["jit_s"],
        "host.steal_s": rec["steal_s"],
        "host.load_avg": rec["load_avg"][1],
        "trace.overhead_s": median([p["wall_s"] for p in traced])
                            - median([p["wall_s"] for p in plain]),
        "trace.spans": rec["spans"],
    })
    return out


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


# ---------------------------------------------------------------- run

def prepare(workload, seed, work):
    """Generate the inputs and the expected results; returns input stats."""
    w = WORKLOADS[workload]
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: os.path.join(work, k) for k in
            ("sf", "sparkify", "expected", "warehouse", "tmp")}
    for k in ("sf", "expected", "tmp"):
        os.makedirs(dirs[k])
    t = time.time()
    stats = {}
    if w["sparkify"]:
        stats.update(gen.sparkify(seed, dirs["sparkify"], **SPARKIFY_SIZE))
    if w["sf"]:
        stats.update(gen.sf(seed, dirs["sf"], SF_SCALE))
    gen_s = time.time() - t
    return dirs, stats, gen_s


def write_expected(workload, dirs, oracle_sql):
    w = WORKLOADS[workload]
    t = time.time()
    if w["sparkify"]:
        expected.sparkify(os.path.join(dirs["sparkify"], "log_data"),
                          os.path.join(dirs["sparkify"], "song_data"),
                          dirs["expected"],
                          [o for o in w["ops"] if o in expected.ANALYTICS_SQL])
    cat = [o for o in w["ops"] if o.startswith("q_")]
    if cat:
        expected.catalog(oracle_sql, dirs["sf"], dirs["expected"], cat)
    return time.time() - t


def input_rows(workload, stats):
    """Generated rows the workload reads: fixed by the input, never by what
    the engine scans."""
    w = WORKLOADS[workload]
    rows = 0
    if w["sparkify"]:
        rows += stats["sparkify_event_rows"] + stats["sparkify_song_rows"]
    if w["sf"]:
        rows += stats["sf_rows"]
    return rows


def run_jvm(workload, seconds, trace, dirs, classes, jars, ops=None):
    w = WORKLOADS[workload]
    rec_path = os.path.join(dirs["tmp"], "..", "record.json")
    args = {
        "workload": workload, "ops": ",".join(ops or w["ops"]),
        "sf": dirs["sf"],
        "events": os.path.join(dirs["sparkify"], "log_data"),
        "songs": os.path.join(dirs["sparkify"], "song_data"),
        "warehouse": dirs["warehouse"], "expected": dirs["expected"],
        "tmp": dirs["tmp"], "out": rec_path, "seconds": str(seconds),
        "warm": str(w["warm"]), "trace": str(trace),
        "land": "1" if w["land"] else "0",
        "cpus": str(len(os.sched_getaffinity(0))),
        "trace_out": os.path.join(dirs["tmp"], "..", "trace.json"),
    }
    cmd = jvm_base(classes, jars, heap_size(), dirs["tmp"]) + \
        ["perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(dirs["tmp"], "..", "jvm.log")
    with open(log_path, "w") as logf:
        r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                           timeout=max(170, seconds + 145))
    if r.returncode != 0 or not os.path.exists(rec_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    with open(rec_path) as f:
        rec = json.load(f)
    spans = []
    if trace:
        with open(args["trace_out"]) as f:
            spans = json.load(f)
    return rec, spans


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes, jars = build()
    with open(os.path.join(os.path.dirname(classes), "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    work = os.path.join(ROOT, ".bench_work")
    dirs, stats, gen_s = prepare(a.workload, a.seed, work)
    oracle_s = write_expected(a.workload, dirs, oracle_sql)
    rec, spans = run_jvm(a.workload, a.seconds, a.trace, dirs, classes, jars)
    rec["harness"] = {"gen_s": gen_s, "oracle_s": oracle_s}
    inputs = {"rows": input_rows(a.workload, stats), **stats}

    verify = rec["verify"]
    attempted = len(verify) + sum(len(p["ops"]) for p in rec["passes"])
    failed = sum(v != "ok" for v in verify.values()) + \
        sum(not o["ok"] for p in rec["passes"] for o in p["ops"])
    correct = not rec["failures"]

    e2e, op_s = end_to_end(rec, inputs)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "inputs": inputs, "host": rec["host"],
              "heap": heap_size(), "harness": rec["harness"],
              "setup": {k: rec.get(k) for k in
                        ("session_start_s", "landing_s", "verify_s", "compare_s",
                         "warm_s")},
              "timed_s": rec["timed_s"], "passes": len(rec["passes"]),
              "jit_s": rec["jit_s"], "steal_s": rec["steal_s"],
              "load_avg": rec["load_avg"], "failures": rec["failures"][:20],
              "failed_op_share": failed / attempted}
    report["end_to_end"] = {k: {"value": v, "unit": E2E_UNITS[k], "n": n}
                            for k, (v, n) in e2e.items()}
    t = tail(op_s)
    report["end_to_end"]["op_tail_s"] = (
        {"value": t[0], "unit": "s", "percentile": t[1], "n": len(op_s)} if t
        else {"value": None, "unit": "s", "n": len(op_s),
              "why": "fewer than 10 samples beyond the median"})
    if "stored_bytes" in rec and "sparkify_json_bytes" in stats:
        report["end_to_end"]["stored_bytes_per_input_byte"] = {
            "value": rec["stored_bytes"] / stats["sparkify_json_bytes"],
            "unit": "ratio", "n": 1}
    report["end_to_end"]["failed_op_share"] = {
        "value": failed / attempted, "unit": "ratio", "n": attempted}

    if a.trace:
        units = per_layer_units()
        layers = layer_metrics(rec, spans)
        report["per_layer"] = layers
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _) in e2e.items()}
    print(json.dumps(report))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
