#!/usr/bin/env python3
"""Benchmark of the graft engine: fixed workloads, closed loop, one client.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tpcds_sf0.01 --seed 1 --seconds 20 --trace 0

It compiles the engine (src/main/scala) and the harness (perfbench/harness)
into .bench_build/perfbench with the Scala compiler that ships in Spark's
jars, runs the workload in one JVM through graft.core.SessionFactory.local at
local[nproc], checks every query's output against perfbench/expected, and
prints one JSON object as its last line. --trace 0 reports the end-to-end
metrics of BENCHMARK.json; --trace 1 attaches the listeners and reports the
per-layer metrics.

Other modes:
    --smoke            run every workload once at sf0.001 and assert the
                       output contract (the benchmark's own test)
    --record           run every workload untraced and traced, in three
                       pairs, and write perfbench/records/<workload>.json
    --write-expected   record expected row counts and digests for a scale
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

JAVA_OPTS = [
    # a fixed heap: no resizing after the full GC that precedes each query
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    if not main:
        fail(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from the root of a checkout")
    if not harness:
        fail("no harness sources under perfbench/harness")
    return main + harness


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark's jars: set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if not (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        args_file = os.path.join(BUILD, "sources.txt")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs) + "\n")
        log = os.path.join(BUILD, "compile.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                 "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
                 "-d", classes, "@" + args_file],
                stdout=out, stderr=subprocess.STDOUT)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"compile failed (exit {rc}); log in {log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + os.path.join(jars, "*")


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_harness(cp, queries, data, seconds, trace, tag, warmup=()):
    """One JVM; returns the harness's run record, kept under a run-unique path."""
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    run_id = f"{tag}-t{trace}-{stamp}-{os.getpid()}"
    runs = os.path.join(BUILD, "runs")
    tmp = os.path.join(BUILD, "tmp", run_id)
    os.makedirs(runs, exist_ok=True)
    os.makedirs(os.path.join(tmp, "local"))
    record = os.path.join(runs, run_id + ".json")
    log = os.path.join(runs, run_id + ".log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Harness", f"data={data}", f"queries={','.join(queries)}",
           f"seconds={seconds}", f"trace={int(trace)}", f"warmup={','.join(warmup)}",
           f"cpus={cpus()}", f"out={record}"])
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=seconds + 150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"harness failed (exit {rc}); log in {log}", 3)
    os.remove(log)
    return load_json(record), record


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check_outputs(rec, expected):
    """Marks each execution failed if it threw or its rows/digest differ."""
    for q in rec["queries"]:
        exp = expected.get(q["q"])
        if q["ok"] and exp is None:
            q["ok"], q["error_class"], q["error"] = False, "perfbench.NoExpectation", "no expected output"
        elif q["ok"] and (q["rows"], q["digest"]) != (exp["rows"], exp["digest"]):
            q["ok"], q["error_class"] = False, "perfbench.OutputMismatch"
            q["error"] = (f"rows {q['rows']} digest {q['digest']}, "
                          f"expected rows {exp['rows']} digest {exp['digest']}")
        if exp is not None:
            q["vacuous"] = exp["rows"] <= 1


def per_query(rec, key):
    by = {}
    for q in rec["queries"]:
        if q["ok"]:
            by.setdefault(q["q"], []).append(q[key])
    return {k: median(v) for k, v in by.items()}


def e2e_metrics(rec):
    walls = per_query(rec, "wall_s")
    return {
        "suite_s": (sum(walls.values()), "s"),
        "query_p50_s": (median(list(walls.values())), "s"),
        "query_geomean_s": (math.exp(statistics.fmean(math.log(v) for v in walls.values()))
                            if walls else 0.0, "s"),
        "failed_frac": (sum(not q["ok"] for q in rec["queries"]) / len(rec["queries"]), "ratio"),
        "setup_s": (rec["setup"]["total_s"], "s"),
        "peak_live_heap_mb": (rec["peak_live_heap_mb"], "MB"),
    }


LAYER_SUMS = [
    # (metric, record key, unit)
    ("build.s", "build_s", "s"), ("build.jobs", "build_jobs", "count"),
    ("catalyst.analysis_s", "catalyst_analysis_s", "s"),
    ("catalyst.optimization_s", "catalyst_optimization_s", "s"),
    ("catalyst.planning_s", "catalyst_planning_s", "s"),
    ("exec.s", "exec_s", "s"), ("exec.jobs", "exec_jobs", "count"),
    ("exec.stages", "stages", "count"), ("exec.tasks", "tasks", "count"),
    ("exec.task_run_s", "task_run_s", "s"), ("exec.task_cpu_s", "task_cpu_s", "s"),
    ("exec.gc_s", "gc_s", "s"), ("exec.input_records", "input_records", "count"),
    ("exec.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "spill_bytes", "bytes"),
    ("plan.broadcast_joins", "plan_broadcast_joins", "count"),
    ("plan.sort_merge_joins", "plan_sort_merge_joins", "count"),
    ("plan.shuffles", "plan_shuffles", "count"),
    ("plan.reused_exchanges", "plan_reused_exchanges", "count"),
    ("plan.aqe_coalesced_reads", "plan_aqe_coalesced_reads", "count"),
    ("stream.batches", "stream_batches", "count"),
    ("stream.state_rows", "stream_state_rows", "count"),
    ("stream.state_bytes", "stream_state_bytes", "bytes"),
    ("stream.late_rows_dropped", "stream_late_rows_dropped", "count"),
    ("sink.bytes_written", "sink_bytes_written", "bytes"),
    ("result.rows", "rows", "count"),
]


def layer_metrics(rec):
    """Per-layer metrics of a traced run: per-query medians over the passes,
    summed over the workload's queries; ratios are taken of those sums."""
    out = {name: (sum(per_query(rec, key).values()), unit) for name, key, unit in LAYER_SUMS}
    for part in ("session_s", "warmup_s", "catalog_s"):
        out["core." + part] = (rec["setup"][part], "s")
    inv = sum(per_query(rec, "rule_invocations").values())
    eff = sum(per_query(rec, "rule_effective").values())
    out["catalyst.rules_effective_ratio"] = (eff / inv if inv else 0.0, "ratio")
    v = {k: x for k, (x, _) in out.items()}
    out["exec.s_per_job"] = (v["exec.s"] / v["exec.jobs"] if v["exec.jobs"] else 0.0, "s")
    out["exec.cpu_ratio"] = (v["exec.task_cpu_s"] / v["exec.task_run_s"]
                             if v["exec.task_run_s"] else 0.0, "ratio")
    out["exec.busy_cores"] = (v["exec.task_run_s"] / (v["build.s"] + v["exec.s"]), "cores")
    return out


def unattributed(rec):
    """Per query execution: share of the query span not covered by its
    build, catalyst and exec child spans (layer self-times vs wall)."""
    spans = {}
    for s in rec["spans"]:
        spans.setdefault(s["id"], []).append(s)
    worst = {}
    for qid, ss in spans.items():
        top = next(s for s in ss if s["name"] == "query")
        kids = sorted((s["start_ms"], s["end_ms"]) for s in ss if s["parent"] == "query")
        covered, reach = 0.0, top["start_ms"]
        for a, b in kids:
            a, b = max(a, reach), min(b, top["end_ms"])
            if b > a:
                covered += b - a
                reach = b
        wall = top["end_ms"] - top["start_ms"]
        worst[qid] = (wall - covered) / wall if wall > 0 else 0.0
    return worst


def workload_config(name):
    cfg = load_json(os.path.join(BENCH, "workloads.json"))
    if name not in cfg["workloads"]:
        fail(f"unknown workload {name!r}; one of {', '.join(cfg['workloads'])}")
    return cfg, cfg["workloads"][name]


def measure(cp, name, seed, seconds, trace, scale=None):
    cfg, wl = workload_config(name)
    scale = scale or cfg["scale"]
    queries = list(wl["queries"])
    random.Random(seed).shuffle(queries)
    data = os.path.join(BENCH, "data", scale)
    rec, path = run_harness(cp, queries, data, seconds, trace, f"{name}-s{seed}", wl["warmup"])
    check_outputs(rec, load_json(os.path.join(BENCH, "expected", scale + ".json")))
    return rec, path


def report(rec, path, trace):
    """Prints every metric by name and unit, then the result line; its
    metrics are exactly the BENCHMARK.json ones for this trace mode."""
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    every = {**e2e_metrics(rec), **(layer_metrics(rec) if trace else {})}
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    metrics = {k: every[k] for k in names}
    fails = [q for q in rec["queries"] if not q["ok"]]
    for name, (value, unit) in sorted(every.items()):
        print(f"{name:32s} {value:16.6f} {unit}")
    execs = [q["wall_s"] for q in rec["queries"] if q["ok"]]
    print(f"query_tail_s not reported: no percentile of {len(execs)} executions has ten "
          f"beyond it (slowest {max(execs, default=0):.3f} s); {rec['passes']} pass(es); "
          f"record {path}")
    print("host " + json.dumps(rec["host"], sort_keys=True))
    vac = sorted({q["q"] for q in rec["queries"] if q.get("vacuous")})
    if vac:
        print(f"vacuous (0 or 1 row) outputs: {', '.join(vac)}")
    print(f"failed_n {len(fails)}")
    for q in fails[:10]:
        print(f"FAILED {q['q']} pass {q['pass']}: {q.get('error_class')}: {q.get('error')}")
    result = {
        "correct": not fails,
        "attempted": len(rec["queries"]),
        "failed": len(fails),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return result


def smoke(cp):
    """The benchmark's own test: every workload once at sf0.001, untraced
    and traced; asserts the metric contract and the layer split."""
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    cfg = load_json(os.path.join(BENCH, "workloads.json"))
    problems = []
    for name in cfg["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            rec, path = measure(cp, name, 0, 0, trace, scale="sf0.001")
            got = report(rec, path, trace)
            for m in wanted:
                have = got["metrics"].get(m["name"])
                if have is None or have["unit"] != m["unit"]:
                    problems.append(f"{name} trace={trace}: {m['name']} missing or wrong unit")
            if not got["correct"]:
                problems.append(f"{name} trace={trace}: {got['failed']} failed executions")
            if trace:
                for qid, share in unattributed(rec).items():
                    if share > 0.02:
                        problems.append(f"{name}: {qid} layers cover only {1 - share:.2%} of wall")
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problems")
    return 0 if not problems else 1


def record(cp, seed, seconds, pairs=3):
    """Untraced and traced runs of every workload, in pairs that alternate
    which runs first; writes the committed per-workload record (the first
    pair's traced run, with spans) and the tracing overhead of every pair."""
    cfg = load_json(os.path.join(BENCH, "workloads.json"))
    os.makedirs(os.path.join(BENCH, "records"), exist_ok=True)
    for name in cfg["workloads"]:
        overheads, first = [], None
        for i in range(pairs):
            runs = {t: measure(cp, name, seed + i, seconds, t)[0]
                    for t in ((0, 1) if i % 2 == 0 else (1, 0))}
            overheads.append(e2e_metrics(runs[1])["suite_s"][0]
                             - e2e_metrics(runs[0])["suite_s"][0])
            first = first or runs
        plain, traced = first[0], first[1]
        layers = layer_metrics(traced)
        split = {"build.s": layers["build.s"][0], "exec.s": layers["exec.s"][0],
                 "catalyst.s": sum(per_query(traced, "catalyst_s").values())}
        total = sum(split.values())
        out = {
            "workload": name, "seed": seed, "seconds": seconds, "scale": cfg["scale"],
            "host": traced["host"],
            "untraced": {k: v for k, (v, _) in e2e_metrics(plain).items()},
            "traced": {k: v for k, (v, _) in e2e_metrics(traced).items()},
            "tracing_overhead_suite_s": overheads,
            "tracing_overhead_suite_s_median": median(overheads),
            "layer_share": {k: v / total for k, v in split.items()},
            "max_unattributed_share": max(unattributed(traced).values()),
            "per_layer": {k: v for k, (v, _) in layers.items()},
            "queries": traced["queries"],
            "spans": traced["spans"],
        }
        path = os.path.join(BENCH, "records", name + ".json")
        with open(path + ".tmp", "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
        print(f"{name}: tracing overhead per pair {[round(o, 3) for o in overheads]} s, "
              f"split {json.dumps(out['layer_share'])} -> {path}")
    return 0


def write_expected(cp, scale):
    cfg = load_json(os.path.join(BENCH, "workloads.json"))
    path = os.path.join(BENCH, "expected", scale + ".json")
    expected = {}
    for name, wl in cfg["workloads"].items():
        rec, _ = run_harness(cp, wl["queries"], os.path.join(BENCH, "data", scale), 0, 0,
                             f"expect-{name}", wl["warmup"])
        for q in rec["queries"]:
            if not q["ok"]:
                fail(f"{q['q']} failed: {q.get('error_class')}: {q.get('error')}")
            expected[q["q"]] = {"rows": q["rows"], "digest": q["digest"]}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    print(f"wrote {len(expected)} expectations to {path}")
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--write-expected", metavar="SCALE")
    a = ap.parse_args()
    cp = build()
    if a.smoke:
        return smoke(cp)
    if a.record:
        return record(cp, a.seed, a.seconds)
    if a.write_expected:
        return write_expected(cp, a.write_expected)
    if not a.workload:
        fail("--workload is required")
    rec, path = measure(cp, a.workload, a.seed, a.seconds, a.trace)
    report(rec, path, a.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
