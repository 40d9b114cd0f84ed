#!/usr/bin/env python3
"""End-to-end benchmark of graft's two product paths.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. The script compiles the program
(src/main) together with the benchmark's JVM side (perfbench/src) into
.bench_build, generates the workload's inputs from the seed, runs one
local Spark JVM sized to the machine's cores, checks every output, and
prints a summary line per metric group and, last, one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Workloads, metrics and units are declared in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORK = os.path.join(ROOT, ".bench_work")
PROGRAM = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "main", "java")]
HARNESS = os.path.join(HERE, "src")
JVM_TIMEOUT_S = 160
HEAP = "3g"
SETUP_REPEATS = 3
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main; run from a graft checkout")
    files = []
    for top in PROGRAM + [HARNESS]:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        fail("cannot find the Spark jars: set SPARK_HOME")
    return m.group(1)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build():
    """Compile program + harness with scalac/javac; reuse a build whose
    sources are unchanged."""
    files = source_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "OK")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    t0 = time.time()
    scalac = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
              "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", tmp, "@" + args]
    javac = ["javac", "-J-XX:-UsePerfData", "-nowarn", "-cp", classpath(tmp), "-d", tmp] + \
        [f for f in files if f.endswith(".java")]
    for cmd in (scalac, javac):
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail(f"build failed: {cmd[0]} exited {r.returncode}")
    open(os.path.join(tmp, "OK"), "w").close()
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def java_cmd(classes, main_args, work):
    # A fixed-size heap under the throughput collector: across seeds the
    # single measured iteration spread less than under the default G1.
    # The heap's pages are touched at start and the metaspace starts
    # large, so neither first-touch page faults nor metadata-triggered
    # full collections land in a timed iteration; in a VM both made the
    # measured wall swing from run to run.
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
            "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), *opens,
            "-cp", classpath(classes), "graftbench.Main", *main_args]


def run_jvm(cmd, work, log):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            proc.kill()
            proc.wait()
            raise


def tree_bytes(path):
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def oracle_check(work, inputs):
    """ext_corpus_curate_full's first output against its registered
    DuckDB oracle over the same generated documents."""
    import duckdb
    con = duckdb.connect()
    for name in os.listdir(inputs):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, name)}/*.parquet')")
    with open(os.path.join(work, "oracle", "query.sql")) as fh:
        exp = con.execute(fh.read())
    ecols = [d[0] for d in exp.description]
    erows = exp.fetchall()
    got = con.execute(f"SELECT * FROM read_parquet('{work}/oracle/result/*.parquet')")
    gcols = [d[0] for d in got.description]
    grows = got.fetchall()
    if sorted(gcols) != sorted(ecols):
        return f"curation columns {sorted(gcols)} != oracle {sorted(ecols)}"
    def rows(cols, rs):
        ix = [cols.index(c) for c in sorted(cols)]
        return sorted(tuple(canon(r[i]) for i in ix) for r in rs)
    g, e = rows(gcols, grows), rows(ecols, erows)
    if g != e:
        return f"curation output ({len(g)} rows) differs from its DuckDB oracle ({len(e)} rows)"
    return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; one of {', '.join(names)}")
    classes = build()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    problems = []
    try:
        # set-up, part 1: input generation, repeated; the copies must agree
        gen_s = []
        for r in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            gen.generate(args.workload, args.seed, os.path.join(work, f"inputs-{r}"))
            gen_s.append(time.perf_counter() - t0)
        inputs = os.path.join(work, "inputs-0")
        first = tree_bytes(inputs)
        for r in range(1, SETUP_REPEATS):
            if tree_bytes(os.path.join(work, f"inputs-{r}")) != first:
                problems.append("generated inputs differ between runs of one seed")
            shutil.rmtree(os.path.join(work, f"inputs-{r}"))
        # set-up, part 2: JVM start, session, fixture builds, warm-up
        launch = time.time()
        cmd = java_cmd(classes, ["--workload", args.workload, "--inputs", inputs,
                                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                                 "--trace", str(args.trace), "--out", "result.json"], work)
        log = os.path.join(work, "jvm.log")
        code = run_jvm(cmd, work, log)
        if code != 0:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"benchmark JVM exited {code}")
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        if args.workload == "corpus_daily":
            msg = oracle_check(work, inputs)
            if msg:
                problems.append(msg)
        if args.trace:
            os.makedirs(WORK, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(WORK, f"last-trace-{args.workload}.jsonl"))
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(WORK, f"last-{args.workload}.log"))
        shutil.rmtree(work, ignore_errors=True)

    iters = res["iters"] + res["untraced_iters"]
    bad = [i for i in iters if not i["ok"]]
    problems += sorted({i["why"] for i in bad})
    walls = [i["wall_s"] for i in (res["untraced_iters"] or res["iters"])]
    wall = median(walls)
    setup = median(gen_s) + (res["setup_end_ms"] / 1000.0 - launch)

    def fact(name):
        vals = [i["facts"][name] for i in res["iters"] if name in i["facts"]]
        return median(vals) if vals else None

    e2e = {
        "setup_s": setup,
        "wall_s": wall,
        "rows_per_s": res["input_rows"] / wall,
        "success_rate": (len(iters) - len(bad)) / len(iters),
    }
    api, rec = fact("api_calls_per_record"), fact("recall_at_10")
    tail = "no tail percentile (p90 needs >= 100 iterations)" if len(walls) < 100 else \
        f"p90 {statistics.quantiles(walls, n=10)[-1]:.4f} s"
    print(f"[{args.workload} seed={args.seed} trace={args.trace}] "
          f"setup_s={setup:.3f} s | wall_s={wall:.4f} s (median of {len(walls)}; {tail}) | "
          f"rows_per_s={e2e['rows_per_s']:.1f} rows/s ({res['input_rows']} input rows) | "
          f"api_calls_per_record={'n/a' if api is None else f'{api:.5f} calls/record'} | "
          f"recall_at_10={'n/a' if rec is None else f'{rec:.4f}'} | "
          f"error_rate={len(bad) / len(iters):.4f} ({len(bad)}/{len(iters)} iterations) | "
          f"host_control_s={res['host_control_s']:.4f} s")
    for p in problems:
        print(f"[{args.workload}] CHECK FAILED: {p}")
    if args.trace:
        layers = dict(res["layers"], **{"host.control_s": res["host_control_s"]})
        wanted = spec["per_layer"]
        print(f"[{args.workload}] tracing overhead {layers['trace.overhead']:+.3f} "
              f"(traced over untraced median wall)")
    else:
        layers = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": not problems, "attempted": len(iters), "failed": len(bad),
                      "metrics": metrics}))


def selftest():
    """The generator is byte-stable per seed and differs across seeds;
    the JVM side checks the stub's schedule and span self time."""
    tdir = os.path.join(WORK, f"selftest-{os.getpid()}")
    try:
        for w in ("sync_delta", "corpus_daily"):
            a, b, c = (os.path.join(tdir, f"{w}-{s}") for s in ("1a", "1b", "2"))
            gen.generate(w, 1, a)
            gen.generate(w, 1, b)
            gen.generate(w, 2, c)
            if tree_bytes(a) != tree_bytes(b):
                fail(f"selftest: {w} inputs differ for one seed")
            if tree_bytes(a) == tree_bytes(c):
                fail(f"selftest: {w} inputs equal across seeds")
        print("selftest ok: generator byte-stable per seed, different across seeds")
        os.makedirs(tdir, exist_ok=True)
        code = subprocess.run(java_cmd(build(), ["--selftest", "1"], tdir), cwd=tdir).returncode
        if code != 0:
            fail("selftest: JVM checks failed")
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif not args.workload:
        fail("--workload is required")
    else:
        run(args)


if __name__ == "__main__":
    main()
