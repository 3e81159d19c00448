#!/usr/bin/env python3
"""Benchmark runner for the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library and the
JVM runner from source with the Scala compiler among the library's jars;
later runs reuse the classes until a source file changes. A run generates its inputs from the seed, starts a
local Spark session, warms up, then drives the workload's operations in a
closed loop (one client, the next operation starts when the previous one
has returned) for the given seconds. Outputs are checked outside the timed
region. The last line of stdout is the JSON result; with --trace 0 it holds
the end-to-end metrics, with --trace 1 the per-layer metrics, and the spans
of the traced passes are written to .bench_build/perfbench/trace-<workload>.jsonl.

Workloads, their sizing and the metric predictions live in
perfbench/workloads.json.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 150  # the JVM part of a run; the output check follows
JVM_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The library's jar directory: the root build's `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None or not os.path.isdir(m.group(1)):
        die("no unmanagedBase jar directory in build.sbt")
    return m.group(1)


def sources():
    """Every Scala source of the library and of the runner, sorted."""
    files = []
    for r in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, subdirs, names in os.walk(r):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def build():
    """Compile library + runner with the Scala compiler among the library's
    jars (no build tool, so nothing is written outside the checkout);
    returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no library sources next to the benchmark (run from the repository root)")
    jars_dir = spark_jars()
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        die(f"no scala-compiler jar in {jars_dir}")
    srcs = sources()
    h = hashlib.sha256()
    for f in [os.path.join(ROOT, "build.sbt")] + srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    classes, stamp_file = os.path.join(OUT, "classes"), os.path.join(OUT, "build.stamp")
    cp = f"{classes}{os.pathsep}{os.path.join(jars_dir, '*')}"
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    tmp = os.path.join(OUT, "tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(jars)] + srcs) + "\n")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["java", "-Xss16m", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                            "-cp", os.path.join(jars_dir, "*"), "scala.tools.nsc.Main",
                            f"@{args_file}"],
                           cwd=OUT, stdout=lf, stderr=subprocess.STDOUT, timeout=800)
    if p.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def block_model(seed, spec):
    """Seed -> block size, corner and filter expression of the block model.
    The shape is fixed and the filter cuts at whole blocks (the first
    `keep_x` x-columns, the blocks deeper than `min_depth` layers), so every
    seed writes, keeps, sorts and dedups the same number of rows; only the
    coordinate values change. Sizes and corners are exact binary fractions,
    so the cut is exact too."""
    rng = random.Random(seed)
    size = [rng.choice((0.5, 1.0, 2.0, 2.5, 5.0)) for _ in range(3)]
    corner = [rng.randrange(200000) * 0.5 for _ in range(3)]
    x_cut = corner[0] + size[0] * spec["keep_x"]
    depth_cut = size[2] * spec["min_depth"]
    return size, corner, f"depth > {depth_cut!r} and x < {x_cut!r}"


def pct(values, p):
    """Percentile by linear interpolation (statistics.quantiles, inclusive)."""
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def end_to_end(res, spec, setup_extra_s, input_rows, failed, attempted):
    passes = [p["wall_ms"] for p in res["passes"]]
    ops = [o["ms"] for o in res["ops"]]
    wall_s = statistics.median(passes) / 1000.0
    setup_s = setup_extra_s + (res["session_ms"] + statistics.median(
        r["total_ms"] for r in res["setup"])) / 1000.0
    return {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "op_p50_ms": statistics.median(ops),
        "op_tail_ms": pct(ops, spec["tail_pct"]),
        "ok_frac": 1.0 - failed / attempted,
        "retained_heap_mb": res["retained_heap_mb"],
        "rows_per_s": input_rows / wall_s,
    }


def per_layer(res, input_bytes):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    ops_by_pass = {}
    for o in res["ops"]:
        ops_by_pass.setdefault(o["pass"], []).append(o)
    counts = res["counts"]

    def layer_counts(seqs, layer=None):
        tot = {}
        for tag, c in counts.items():
            s, lay = tag.split("/")
            if int(s) in seqs and (layer is None or lay == layer):
                for k, v in c.items():
                    tot[k] = tot.get(k, 0) + v
        return tot

    rows = []
    for p in traced:
        ops = ops_by_pass[p["pass"]]
        seqs = {o["seq"] for o in ops}
        wall = p["wall_ms"]
        ms = {lay: sum(o["phases"].get(lay, 0.0) for o in ops) for lay in ("build", "plan", "exec", "io")}
        allc, b, e, io = (layer_counts(seqs), layer_counts(seqs, "build"),
                          layer_counts(seqs, "exec"), layer_counts(seqs, "io"))
        mb = 1048576.0
        rows.append({
            "build.ms": ms["build"], "build.jobs": b.get("jobs", 0),
            "build.share": ms["build"] / wall,
            "plan.ms": ms["plan"],
            "exec.ms": ms["exec"], "exec.jobs": e.get("jobs", 0),
            "exec.stages": allc.get("stages", 0), "exec.tasks": allc.get("tasks", 0),
            "exec.task_ms": allc.get("task_ms", 0),
            "exec.core_busy": allc.get("task_ms", 0) / (wall * res["cpus"]),
            "exec.input_mb": allc.get("input_bytes", 0) / mb,
            "exec.shuffle_read_mb": allc.get("shuffle_read_bytes", 0) / mb,
            "exec.shuffle_write_mb": allc.get("shuffle_write_bytes", 0) / mb,
            "exec.spill_mb": allc.get("spill_bytes", 0) / mb,
            "jobs_per_op": allc.get("jobs", 0) / len(ops),
            "io.write_ms": ms["io"], "io.jobs": io.get("jobs", 0),
            "io.bytes_written_mb": io.get("output_bytes", 0) / mb,
            "io.files_written": sum(o["detail"].get("files", 0) for o in ops),
            "io.write_amp": io.get("output_bytes", 0) / input_bytes if input_bytes else 0.0,
            "driver.gc_ms": sum(o["driver_gc_ms"] for o in ops),
            "log.warn_lines": allc.get("warn_lines", 0),
            "exec.codegen_fallbacks": allc.get("codegen_fallbacks", 0),
        })
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    # collections are bursty and timed in whole ms: the mean per pass keeps their cost
    m["driver.gc_ms"] = statistics.mean(r["driver.gc_ms"] for r in rows)
    probes = res["probes"]
    if probes:
        m["sources.read_ms"] = statistics.median(p["ms"] for p in probes)
        m["sources.read_jobs"] = sum(layer_counts({p["seq"]}).get("jobs", 0)
                                     for p in probes) / len(probes)
    else:
        m["sources.read_ms"] = m["sources.read_jobs"] = 0.0
    tw = statistics.median(p["wall_ms"] for p in traced)
    uw = statistics.median(p["wall_ms"] for p in plain)
    m["trace.overhead_pct"] = 100.0 * (tw - uw) / uw
    return m


def main():
    # a terminated run still reaches the `finally` that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"].get(args.workload)
    if spec is None:
        die(f"unknown workload {args.workload}")
    cp = build()
    t_start = time.time()

    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    jargs = ["--workload", args.workload, "--data", data, "--work", run_dir,
             "--cpus", str(cpus()), "--seconds", str(args.seconds),
             "--trace", str(args.trace)]
    gen_s, input_rows, input_bytes, bm = 0.0, 0, 0, None
    if args.workload == "file_pipeline":
        shape = spec["shape"]
        size, corner, filt = block_model(args.seed, spec)
        bm = {"shape": shape, "filter": filt}
        input_rows = shape[0] * shape[1] * shape[2]
        jargs += ["--shape", "x".join(map(str, shape)), "--block", "x".join(map(str, size)),
                  "--corner", "x".join(map(str, corner)), "--filter", filt,
                  "--probe", os.path.join(run_dir, "in", "bm.parquet")]
    else:
        t = time.time()
        gen.write(data, args.seed, spec["sf"])
        gen_s = time.time() - t
        input_rows = gen.row_count(data)
        jargs += ["--ops", ",".join(spec["ops"]), "--probe", ",".join(spec["probe"]),
                  "--filter", spec["write"]["filter"], "--columns", ",".join(spec["write"]["columns"])]

    log = os.path.join(run_dir, "jvm.log")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp", *JVM_OPENS,
           "-cp", cp, "perfbench.Main", *jargs]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(result_file):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"benchmark JVM failed ({rc}); log kept in {log}")
    with open(result_file) as f:
        res = json.load(f)
    shutil.copyfile(result_file, os.path.join(OUT, f"result-{args.workload}.json"))

    # output check, outside the timed region
    if bm is not None:
        bad = check.pipeline(os.path.join(run_dir, "in"), os.path.join(run_dir, "out"),
                             os.path.join(run_dir, "results"), bm)
        input_bytes = check.dir_bytes(os.path.join(run_dir, "in", "bm.parquet"))
    else:
        bad = check.catalog(data, os.path.join(run_dir, "results"), res["checks"])
        bad.update(check.catalog_write(data, os.path.join(run_dir, "out"), spec["write"]))
        input_bytes = check.dir_bytes(os.path.join(data, "lineitem.parquet"))
    for name, why in sorted(bad.items()):
        print(f"perfbench: output check failed: {name}: {why}", file=sys.stderr)
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"] or o["op"] in bad)
    for o in res["ops"]:
        if not o["ok"]:
            print(f"perfbench: {o['op']} raised {o['error']}", file=sys.stderr)

    if args.trace:
        values = per_layer(res, input_bytes)
        trace_out = os.path.join(OUT, f"trace-{args.workload}.jsonl")
        shutil.copyfile(os.path.join(run_dir, "trace.jsonl"), trace_out)
        with open(trace_out, "a") as f:
            for tag, c in sorted(res["counts"].items()):
                f.write(json.dumps({"counts": tag, **c}) + "\n")
    else:
        values = end_to_end(res, spec, gen_s, input_rows, failed, attempted)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = json.load(f)["per_layer" if args.trace else "end_to_end"]
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {u["name"]: {"value": values[u["name"]], "unit": u["unit"]} for u in units}}))


if __name__ == "__main__":
    main()
