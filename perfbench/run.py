#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <serve_steady|analytics_mix>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program
(src/main) together with the benchmark's Scala sources into
.bench_build/classes with the Scala compiler that ships among the Spark
jars the build declares (build.sbt's unmanagedBase, or $SPARK_HOME/jars);
later runs reuse the classes while the sources are unchanged.

Every file a run writes lives under .bench_build/: the work dir of the run
(feeds, checkpoints, document stores, warehouse, java.io.tmpdir) is
removed at exit, and a traced run leaves its spans in
.bench_build/traces/<workload>-<seed>.json.

The last stdout line is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_steady", "analytics_mix")
RUN_LIMIT_S = 160  # the JVM's share of the 180 s a run may take
ANALYTICS_SCALE = 1.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return m.group(1)


def source_files():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    res_root = os.path.join(main, "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return scala, res_root, res


def build():
    """Compile program + benchmark once per source content."""
    scala, res_root, res = source_files()
    h = hashlib.sha256()
    for p in scala + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    key_file = os.path.join(BUILD, "classes.key")
    if os.path.isdir(classes) and os.path.exists(key_file) \
            and open(key_file).read() == key:
        return classes
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit("perfbench: no Scala compiler among the Spark jars")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(scala) + "\n")
    log(f"compiling {len(scala)} sources")
    t0 = time.time()
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed ({rc})")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(key_file, "w") as f:
        f.write(key)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def java_cmd(classes, work, main, args, heap="2g"):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: the resident peak minus the heap is then
    # native and off-heap memory, whenever the collector ran
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
             "-XX:-UsePerfData", "-Xss4m", *opens,
             f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}", main] + args)


def run_jvm(cmd, cwd, deadline):
    """Run the benchmark JVM in its own process group; kill it whole on
    timeout. Returns its stdout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=max(5.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("perfbench: the benchmark JVM ran out of time")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        raise SystemExit(f"perfbench: the benchmark JVM failed ({p.returncode})")
    return out


def load_module(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(data, results, n_queries):
    """Compare every dumped query result with its oracle SQL in DuckDB,
    through the repository's own gate (tools/check.py)."""
    check = load_module("graft_check", os.path.join(ROOT, "tools", "check.py"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data, results)
    text = buf.getvalue()
    sys.stderr.write(text)
    m = re.search(r"== (\d+) ok, (\d+) fail", text)
    if not m:
        return n_queries
    ok, bad = int(m.group(1)), int(m.group(2))
    return bad + max(0, n_queries - ok - bad)


def layer_table(layers):
    width = max(len(k) for k in layers)
    lines = [f"  {k:<{width}}  {v:.6g}" for k, v in layers.items()]
    return "per-layer metrics:\n" + "\n".join(lines)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    spec = benchmark_spec()
    classes = build()
    # the first run in a checkout may spend most of its budget building
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # start on a quiet filesystem: flush what earlier runs left dirty
    os.sync()
    try:
        data = os.path.join(work, "data")
        gen_s = []
        if args.workload == "analytics_mix":
            gendata = load_module("perfbench_gendata", os.path.join(HERE, "gendata.py"))
            for rep in range(5):  # one table set per JVM set-up; the JVM takes the median
                shutil.rmtree(data, ignore_errors=True)
                t0 = time.perf_counter()
                gendata.write(args.seed, data, ANALYTICS_SCALE)
                gen_s.append(time.perf_counter() - t0)
        trace_out = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.json")
        out = run_jvm(java_cmd(classes, work, "perfbench.Main",
                               [args.workload, str(args.seed), str(args.seconds),
                                str(args.trace), work, data, trace_out,
                                ",".join(repr(g) for g in gen_s)]),
                      work, deadline)
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if not lines:
            raise SystemExit("perfbench: the benchmark JVM printed no result")
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "analytics_mix":
            queries = len(res["notes"]["queries"].split(","))
            bad = oracle_failures(data, os.path.join(work, "results"), queries)
            log(f"oracle check: {queries - bad}/{queries} results match")
            attempted += queries
            failed += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()  # the deletes' journal and discard work ends here, not in the next run
    log(f"notes: {json.dumps(res.get('notes', {}))}")
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = res["layers"]
        log(layer_table({k: values.get(k, 0.0) for k, _ in names}))
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res["e2e"]
        missing = [k for k, _ in names if k not in values]
        if missing:
            raise SystemExit(f"perfbench: end-to-end metrics not measured: {missing}")
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in names}
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def selftest():
    classes = build()
    work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        sys.stderr.write(run_jvm(java_cmd(classes, work, "perfbench.SelfTest", [],
                                          heap="512m"), work, time.time() + RUN_LIMIT_S))
        gendata = load_module("perfbench_gendata", os.path.join(HERE, "gendata.py"))
        digests = []
        for seed in (5, 5, 6):
            d = os.path.join(work, f"data-{len(digests)}")
            gendata.write(seed, d, 0.1)
            h = hashlib.sha256()
            for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                with open(p, "rb") as f:
                    h.update(f.read())
            digests.append(h.hexdigest())
        if digests[0] != digests[1] or digests[0] == digests[2]:
            raise SystemExit("perfbench: table generation is not seed-determined")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif args.workload:
        run(args)
    else:
        ap.error("--workload or --selftest is required")


if __name__ == "__main__":
    main()
