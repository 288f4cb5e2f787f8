#!/usr/bin/env python3
"""Benchmark of the graft engine, end to end and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the benchmark
from source (perfbench/build.py), generates the workload's inputs from the
seed, and runs one JVM at local[nproc] as a closed loop with one client:
timed passes back to back for `--seconds` (at least one), then, outside
the timed passes, repetitions of the workload's headline stage. Outputs
are checked once, outside the timed region. The last line
of standard output is the result as JSON; the lines before it print every
metric with its unit and sample count, and the load regime. With
`--trace 1` the metrics are the per-layer counters of a traced pass.
Workloads, metrics and layers are described in perfbench/README.md.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True  # the checkout stays as it was

import build  # noqa: E402

WORKLOADS = ("corpus_to_graph", "mag_queries")
CORPUS_ROWS = 10000
DEADLINE_S = 170
XMX = "3g"

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("run_cpu_s", "s"), ("stage_s", "s"),
              ("peak_heap_mb", "MB")]

FULL = [("wall_s", "s"), ("jobs", "count"), ("exec_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("driver_gap_s", "s")]
LINK_GROUP = ["q_export_graph", "q_link_features", "q_link_prob", "q_link_prob_tree"]
OTHER_QUERIES = ["q_link_corr", "q_key_papers", "q_key_papers_dist", "q_hindex",
                 "q_common_neighbors", "q_author_merge", "q_venue_match", "q_gap_fill",
                 "q_topk_ties", "q_name_pairs", "q_scholar_names",
                 "q_topic_words", "q_abstract_merge", "q_upsert"]


# What stage_s is on each workload.
HEADLINE = {"corpus_to_graph": "resume_s", "mag_queries": "link_group_s"}
# Stage figures each pass reports, with the names they are printed under.
STAGES = {"ingest.edges.edges_per_s": ("edge_build_edges_per_s", "edges/s"),
          "graph.csr_pagerank.edges_per_s_per_iter": ("pagerank_edges_per_s_per_iter", "edges/s"),
          "graph.resume.wall_s": ("resume_s", "s"),
          "graph.dataframe_loops.wall_s": ("dataframe_loops_s", "s"),
          "analytics.link_group.wall_s": ("link_group_s", "s"),
          "analytics.other_queries.per_s": ("other_queries_per_s", "1/s")}


def per_layer_metrics():
    """Every per-layer metric, as (name, unit); a workload that does not run
    a layer reports 0 for it."""
    m = [("core.session.wall_s", "s")]
    m += [(f"ingest.edges.{k}", u) for k, u in FULL + [("shuffle_read_mb", "MB")]]
    m += [("ingest.resolve_ratio", "ratio"), ("ingest.edges.edges_per_s", "edges/s")]
    loops = {"csr_pagerank": "ip", "join_pagerank": "ipg", "cc": "ig", "lpa": "ig",
             "triangles": "", "durable_pagerank": "ip", "resume": "ip"}
    for g, extra in loops.items():
        m += [(f"graph.{g}.{k}", u) for k, u in FULL]
        if "i" in extra:
            m.append((f"graph.{g}.iters", "count"))
        if "p" in extra:
            m.append((f"graph.{g}.prepare_s", "s"))
        if "g" in extra:
            m.append((f"graph.{g}.driver_gap_s_per_iter", "s"))
    m += [("graph.csr_pagerank.edges_per_s_per_iter", "edges/s"),
          ("graph.dataframe_loops.wall_s", "s"),
          ("graph.supersteps.checkpoint_mb", "MB"), ("graph.supersteps.commits", "count")]
    m += [(f"analytics.link_group.{k}", u) for k, u in FULL]
    m += [(f"analytics.{q}.wall_s", "s") for q in LINK_GROUP]
    m += [("analytics.other_queries.per_s", "1/s")]
    for q in OTHER_QUERIES:
        m += [(f"analytics.{q}.wall_s", "s"), (f"analytics.{q}.shuffle_write_mb", "MB")]
    m += [("trace_overhead_s", "s"), ("trace.top_span_coverage", "ratio"),
          ("regime.loadavg_1m_before", "load"), ("regime.loadavg_1m_after", "load"),
          ("regime.calib_s", "s")]
    return m


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_command(classes, work, args, cores, extra):
    jars = build.spark_jars()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", str(work), "--out", str(work / "result.json"),
            "--launched-at", repr(time.time())]
    return cmd + extra


def run_jvm(cmd, log, timeout):
    """Runs the JVM to completion; on timeout kills it and waits for it."""
    with open(log, "w") as logf:
        # the engine reads these; the benchmark fixes its own settings
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: JVM did not finish within {timeout:.0f} s")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = Path.cwd()

    classes = build.build(root)  # the first run in a checkout compiles; the deadline starts after
    t_start = time.time()
    load_before = loadavg()
    cores = len(os.sched_getaffinity(0))
    work = root / ".bench_build" / "work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        py_gen = [0.0]
        extra = ["--rows", str(CORPUS_ROWS)]
        if args.workload == "mag_queries":
            import magdata
            tables = work / "tables"
            py_gen = []
            for _ in range(3):
                t0 = time.perf_counter()
                magdata.write(args.seed, tables)
                py_gen.append(time.perf_counter() - t0)
            extra = ["--tables", str(tables)]
        cmd = jvm_command(classes, work, args, cores, extra)
        rc = run_jvm(cmd, work / "jvm.log", DEADLINE_S - 15 - (time.time() - t_start))
        if rc != 0:
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            raise SystemExit(f"perfbench: JVM exited with {rc}")
        res = json.loads((work / "result.json").read_text())
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if args.workload == "mag_queries":
            import oracle
            checks += oracle.check(work / "mag_results.json", tables)
        load_after = loadavg()
        report(args, res, checks, py_gen, load_before, load_after)
        traces = root / ".bench_build" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        shutil.copy(work / "result.json",
                    traces / f"{args.workload}-s{args.seed}-t{args.trace}-{int(t_start)}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, checks, py_gen, load_before, load_after):
    jvm_failed = res["failed"] - sum(1 for c in res["checks"] if not c["ok"])
    attempted = res["attempted"] + len(checks) - len(res["checks"])
    failed = jvm_failed + sum(1 for _, ok, _ in checks if not ok)
    for name, ok, detail in checks:
        if not ok:
            print(f"perfbench check FAILED {name}: {detail}")
    regime = dict(res["regime"], loadavg_1m_before=load_before, loadavg_1m_after=load_after,
                  shuffle_dir=os.path.relpath(res["regime"]["shuffle_dir"]))
    print("perfbench regime " + json.dumps(regime, sort_keys=True))
    print(f"perfbench {args.workload} seed={args.seed} passes={len(res['passes'])} "
          f"checks={len(checks)} fail_ratio={failed / attempted:.4f} ({failed}/{attempted})")

    if args.trace:
        layer = dict(res["per_layer"])
        print(f"  traced first pass: top_span_coverage={layer['trace.top_span_coverage']:.4f} "
              f"trace_overhead_s={layer['trace_overhead_s']:.4f}")
        layer.update({f"regime.{k}": v for k, v in regime.items() if k != "shuffle_dir"})
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in per_layer_metrics()}
    else:
        setup, passes = res["setup"], res["passes"]
        walls = [p["wall_s"] for p in passes]
        n = len(walls)
        values = {
            "setup_s": setup["jvm_start_s"] + setup["session_s"] + setup["gen_median_s"]
            + statistics.median(py_gen),
            "run_s": statistics.median(walls),
            "run_cpu_s": statistics.median(p["cpu_s"] for p in passes),
            # no samples only when every sampled operation failed
            "stage_s": statistics.median(res["stage_samples"] or [0.0]),
            "peak_heap_mb": max(p["heap_mb"] for p in passes),
        }
        q1, q3 = quartiles(walls)
        print(f"  run_s median={values['run_s']:.4f} q1={q1:.4f} q3={q3:.4f} s n={n}")
        print(f"  run_cpu_s median={values['run_cpu_s']:.4f} s n={n}")
        stage = HEADLINE[args.workload]
        print(f"  stage_s = {stage} median={values['stage_s']:.4f} s n={len(res['stage_samples'])}")
        for key, (alias, unit) in STAGES.items():
            if key in passes[0]["named"] and alias != stage:
                v = statistics.median(p["named"][key] for p in passes)
                print(f"  {alias} ({key}) median={v:.4f} {unit} n={n}")
        print(f"  setup_s={values['setup_s']:.4f} s n=1 (input generation: median of 3)")
        print(f"  peak_heap_mb={values['peak_heap_mb']:.1f} MB n={n}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
