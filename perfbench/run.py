"""graft benchmark: one command runs one workload, checks its outputs and prints metrics.

    python3 perfbench/run.py --workload <cdc_bulk|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout.  It compiles the checkout (see build.py),
starts one JVM at `local[nproc]`, generates the workload's inputs from the seed while
that JVM starts its Spark session, runs the workload there, checks every output
against an independent expectation, and prints as
its last stdout line one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`).
The line before it carries the environment stamp and the workload's own figures.
See perfbench/README.md for what each workload and metric means.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import model  # noqa: E402

ROOT = build.ROOT
# the sf0.1 tables of TESTDATA.md
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
WORKLOADS = ("cdc_bulk", "query_mix")

# The bulk history: a first sync into an empty work dir, in TRIGGERS bounded micro-batches.
# At ~150k events the per-event staging work is about half of a sync on a 4-core box;
# the rest is fixed per-micro-batch and per-run work (see README.md).
BULK = gen.Sizes(orders=12000, customers=5400, events=24000, updates_per_wave=13500,
                 waves=4, deletes=2700, replay_lines=2400, files=10, delta_events=1000)
# The warm-up spool: every event kind of the bulk spool at ~8k events, enough to compile
# and JIT-warm the code paths a sync takes at a fraction of a bulk sync's time.
WARMUP = gen.Sizes(orders=650, customers=300, events=1300, updates_per_wave=700,
                   waves=4, deletes=150, replay_lines=130, files=10, delta_events=0)
TRIGGERS = 2
# Seconds a run may take beyond its measuring window: build check, inputs, JVM start,
# warm-up, the operation in flight when the window ends, and the traced run's probes.
OVERHEAD_S = 160.0

END_TO_END = ("setup_s", "op_p50_s", "op_mean_s")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---- inputs ----------------------------------------------------------------------------

def prepare(workload, seed, run_dir):
    """Generate the workload's inputs; returns (input fields of the plan, expectations)."""
    if workload == "query_mix":
        with open(os.path.join(HERE, "queries.json")) as f:
            qs = json.load(f)
        plan = {"sf_dir": SF_DIR, "queries": [q["name"] for q in qs["queries"]]}
        return plan, {"queries": {q["name"]: q for q in qs["queries"]}}

    warm = gen.generate(gen.load_sources(SF_DIR, WARMUP, seed + 1), seed + 1, WARMUP)
    warm_dir = os.path.join(run_dir, "warm-spool")
    warm_bytes = gen.write_files(warm_dir, warm.files)
    spool = gen.generate(gen.load_sources(SF_DIR, BULK, seed), seed, BULK)
    spool_dir = os.path.join(run_dir, "spool")
    nbytes = gen.write_files(spool_dir, spool.files)
    bulk = model.Model(gen.PRIMARY_KEYS)
    for name in sorted(spool.files):
        bulk.apply_lines(spool.files[name])
    # the traced run follows its bulk sync with one scheduled incremental sync
    delta_name = "delta-00000.jsonl"
    delta = spool.delta()
    gen.write_files(os.path.join(run_dir, "deltas"), {delta_name: delta})
    incr = bulk.copy()
    incr.apply_lines(delta)
    plan = {"primary_keys": gen.PRIMARY_KEYS, "spool": spool_dir,
            "max_bytes_per_trigger": nbytes // TRIGGERS + 1, "warmup_spool": warm_dir,
            "warmup_max_bytes_per_trigger": warm_bytes // TRIGGERS + 1,
            "delta": os.path.join(run_dir, "deltas", delta_name)}
    expect = {"spool_bytes": nbytes, "spool_events": sum(len(v) for v in spool.files.values()),
              "outputs": {"bulk": bulk.expected(), delta_name: incr.expected()}}
    return plan, expect


# ---- checks ----------------------------------------------------------------------------

def check_ops(workload, result, expect):
    """Timed operations with a verdict each: list of (op, ok, problems)."""
    out = []
    for op in result["ops"]:
        problems = [op["error"]] if op.get("error") else []
        if not problems and workload == "cdc_bulk":
            problems = model.compare(expect["outputs"][op["name"]], op["check"])
        out.append((op, not problems, problems))
    if workload == "query_mix":
        # each query's output is checked once per run, in the set-up pass
        for name, got in result["checks"].items():
            exp = expect["queries"][name]
            problems = []
            if "error" in got:
                problems.append(got["error"])
            elif (got["rows"], got["hash"]) != (exp["rows"], exp["hash"]):
                problems.append("%s: rows/hash %s/%s != %s/%s" % (
                    name, got["rows"], got["hash"], exp["rows"], exp["hash"]))
            out.append(({"name": "check:" + name, "seconds": None, "traced": False},
                         not problems, problems))
    return out


# ---- metrics ---------------------------------------------------------------------------

def family(query):
    return "q" if query.startswith("q") else query.split("_")[0]


def end_to_end(setup_s, ops):
    secs = [op["seconds"] for op in ops]
    return {"setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(secs), "s"),
            "op_mean_s": (statistics.fmean(secs), "s")}


# Phases that add up to one traced sync's wall time (with cdc.unattributed_s).
SYNC_PHASES = ("cdc.pre_stream_s", "streaming.latest_offset_s", "streaming.get_batch_s",
               "streaming.query_planning_s", "streaming.add_batch_s", "streaming.wal_commit_s",
               "streaming.commit_offsets_s", "cdc.post_stream_s", "cdc.unattributed_s")

# Every per-layer metric and its unit. Layers a workload does not run read 0.
PER_LAYER = dict(
    [(k, "s") for k in ("sources.spool_read_s", "streaming.latest_offset_s")] +
    [("sources.input_rows", "count"), ("sources.spool_bytes", "bytes"),
     ("streaming.batches", "count"), ("streaming.jobs_per_batch", "count")] +
    [(k, "s") for k in ("streaming.add_batch_s", "streaming.query_planning_s",
                        "streaming.wal_commit_s", "streaming.commit_offsets_s",
                        "streaming.get_batch_s", "streaming.stream_s", "cdc.pre_stream_s",
                        "cdc.post_stream_s", "cdc.unattributed_s", "cdc.wall_s",
                        "incr.sync_s", "incr.stream_s", "incr.post_stream_s",
                        "operators.dedupe_s", "sinks.csv_write_s", "sinks.manifest_state_s")] +
    [("operators.dedupe_rows_in", "count"), ("operators.dedupe_rows_out", "count"),
     ("operators.staged_files", "count"), ("operators.staged_bytes", "bytes"),
     ("sinks.csv_bytes", "bytes"), ("sinks.csv_slices", "count")] +
    [(k, "s") for k in ("query.analysis_s", "query.optimization_s", "query.planning_s")] +
    [("query.jobs", "count"), ("query.tasks", "count")] +
    [("query.%s.total_s" % f, "s") for f in ("cdc", "doc", "emb", "ev", "mm", "q")] +
    [("engine.jobs", "count"), ("engine.stages", "count"), ("engine.tasks", "count"),
     ("engine.executor_run_s", "s"), ("engine.executor_cpu_s", "s"), ("engine.gc_s", "s"),
     ("engine.shuffle_write_bytes", "bytes"), ("engine.shuffle_read_bytes", "bytes"),
     ("engine.spill_bytes", "bytes"), ("engine.slot_busy", "ratio"),
     ("jvm.heap_peak_mb", "MB"), ("host.calibration_s", "s"), ("trace.overhead_ratio", "ratio")] +
    [("share." + k[:-2].split(".", 1)[1], "ratio") for k in SYNC_PHASES])

# Counters summed over traced operations and reported per operation.
_PER_OP = ("engine.jobs", "engine.stages", "engine.tasks", "engine.executor_run_s",
           "engine.executor_cpu_s", "engine.gc_s", "engine.shuffle_write_bytes",
           "engine.shuffle_read_bytes", "engine.spill_bytes", "streaming.latest_offset_s",
           "streaming.add_batch_s", "streaming.query_planning_s", "streaming.wal_commit_s",
           "streaming.commit_offsets_s", "streaming.get_batch_s", "streaming.stream_s",
           "cdc.pre_stream_s", "cdc.post_stream_s", "cdc.wall_s", "sources.spool_read_s",
           "sources.input_rows", "streaming.batches", "operators.staged_files",
           "operators.staged_bytes", "sinks.csv_bytes", "sinks.csv_slices")
# Counters of the traced run's single incremental sync and its layer probes.
_ONCE = ("incr.sync_s", "incr.stream_s", "incr.post_stream_s", "operators.dedupe_s",
         "operators.dedupe_rows_in", "operators.dedupe_rows_out", "sinks.csv_write_s",
         "sinks.manifest_state_s")


def per_layer(workload, result, expect, traced_ops, untraced_ops, ncores):
    """Per-layer metrics of a traced run: counters per traced operation, the additive
    breakdown of a sync, and the tracing overhead."""
    c = result.get("layers", {})
    n = max(1, len(traced_ops))
    wall = sum(op["seconds"] for op in traced_ops)
    v = {k: 0.0 for k in PER_LAYER}
    for k in _PER_OP:
        v[k] = c.get(k, 0.0) / n
    for k in _ONCE:
        v[k] = c.get(k, 0.0)
    v["engine.slot_busy"] = c.get("engine.executor_run_s", 0.0) / (wall * ncores) if wall else 0.0
    if workload == "cdc_bulk":
        v["sources.spool_bytes"] = float(expect["spool_bytes"])
        if v["streaming.batches"]:
            v["streaming.jobs_per_batch"] = c.get("streaming.stream_jobs", 0.0) / n / v["streaming.batches"]
        v["cdc.unattributed_s"] = v["cdc.wall_s"] - sum(v[k] for k in SYNC_PHASES[:-1])
        for k in SYNC_PHASES:
            v["share." + k[:-2].split(".", 1)[1]] = v[k] / v["cdc.wall_s"] if v["cdc.wall_s"] else 0.0
    else:
        qexec = c.get("query.executions", 0.0)
        for k in ("query.analysis_s", "query.optimization_s", "query.planning_s"):
            v[k] = c.get(k, 0.0) / qexec if qexec else 0.0
        v["query.jobs"] = v["engine.jobs"]
        v["query.tasks"] = v["engine.tasks"]
        by_query = {}
        for op in traced_ops:
            by_query.setdefault(op["name"], []).append(op["seconds"])
        for q, secs in by_query.items():
            v["query.%s.total_s" % family(q)] += statistics.median(secs)
    v["jvm.heap_peak_mb"] = result["heap_peak_mb"]
    v["host.calibration_s"] = (result["calibration_before_s"] + result["calibration_after_s"]) / 2
    tr = [op["seconds"] for op in traced_ops]
    un = [op["seconds"] for op in untraced_ops]
    v["trace.overhead_ratio"] = statistics.median(tr) / statistics.median(un) if tr and un else 0.0
    return {k: (v[k], PER_LAYER[k]) for k in PER_LAYER}


def env_stamp(result, ncores):
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                  text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            head = None
    return {"git_head": head, "classes": os.path.basename(result["_classes"]),
            "nproc": os.cpu_count(), "cores_used": ncores,
            "spark": result["env"]["spark"], "scala": result["env"]["scala"],
            "java": result["env"]["java"], "load_avg": list(os.getloadavg()),
            "calibration_before_s": result["calibration_before_s"],
            "calibration_after_s": result["calibration_after_s"]}


# ---- main ------------------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    # a terminated run still stops its JVM and removes its files (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    ncores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.BUILD_DIR, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan_path, inputs_path, result_path = (
            os.path.join(run_dir, n) for n in ("plan.json", "inputs.json", "result.json"))
        with open(plan_path, "w") as f:
            json.dump({"workload": args.workload, "dir": run_dir, "seconds": args.seconds,
                       "trace": bool(args.trace), "cores": ncores}, f)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        # a fixed heap and a code cache with room for Spark's generated classes keep
        # GC resizing and a full code cache (which stops the JIT) out of the timings
        cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m"] +
               [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
               ["-Djava.io.tmpdir=" + tmp, "-Duser.timezone=UTC", "-cp", build.classpath(classes),
                "perfbench.Main", plan_path, inputs_path, result_path])
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            # the JVM starts its session while the inputs are generated, then waits for them
            jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                t_inputs = time.time()
                inputs, expect = prepare(args.workload, args.seed, run_dir)
                inputs_s = time.time() - t_inputs
                with open(inputs_path + ".tmp", "w") as f:
                    json.dump(inputs, f)
                os.replace(inputs_path + ".tmp", inputs_path)
                budget = max(30.0, args.seconds + OVERHEAD_S - (time.time() - t_start))
                try:
                    returncode = jvm.wait(timeout=budget)
                except subprocess.TimeoutExpired:
                    raise SystemExit("perfbench: the JVM run exceeded %.0f s" % budget)
            finally:
                if jvm.poll() is None:
                    jvm.kill()
                    jvm.wait()
        if returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as log:
                sys.stderr.write(log.read()[-6000:])
            raise SystemExit("perfbench: the JVM run failed (exit %d)" % returncode)
        with open(result_path) as f:
            result = json.load(f)
        result["_classes"] = classes
        # input generation overlaps the session start; the JVM waits for what is left of it
        setup_s = result["session_s"] + result["inputs_wait_s"] + result["warmup_s"]

        verdicts = check_ops(args.workload, result, expect)
        attempted = len(verdicts)
        failed = sum(1 for _, ok, _ in verdicts if not ok)
        for op, ok, problems in verdicts:
            if not ok:
                sys.stderr.write("perfbench: FAILED %s: %s\n" % (op["name"], "; ".join(problems)[:2000]))
        # the traced run's incremental sync is checked but is not one of the timed ops
        timed = [op for op in result["ops"] if not op["name"].startswith("delta-")]
        untraced = [op for op in timed if not op["traced"]]
        traced = [op for op in timed if op["traced"]]
        figures = workload_figures(args.workload, untraced, expect, failed, attempted)
        if args.trace:
            metrics = per_layer(args.workload, result, expect, traced, untraced, ncores)
        else:
            metrics = end_to_end(setup_s, untraced)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "figures": figures,
                          "setup": {"inputs_s": inputs_s, "session_s": result["session_s"],
                                    "inputs_wait_s": result["inputs_wait_s"],
                                    "warmup_s": result["warmup_s"]},
                          "env": env_stamp(result, ncores)}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def workload_figures(workload, ops, expect, failed, attempted):
    """The workload's own headline figures, under the names the README uses."""
    secs = [op["seconds"] for op in ops]
    f = {"fail_ratio": failed / attempted, "ops": len(ops),
         "op_seconds": [round(x, 4) for x in secs]}
    if workload == "cdc_bulk":
        f["events_per_s"] = expect["spool_events"] / statistics.median(secs)
        f["spool_events"] = expect["spool_events"]
    else:
        f["query_p50_s"] = statistics.median(secs)
        f["query_p90_s"] = statistics.quantiles(secs, n=10, method="inclusive")[8]
        by_query = {}
        for op in ops:
            by_query.setdefault(op["name"], []).append(op["seconds"])
        f["query_total_s"] = sum(statistics.median(v) for v in by_query.values())
    return f


if __name__ == "__main__":
    main()
