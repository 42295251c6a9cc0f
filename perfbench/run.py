#!/usr/bin/env python3
"""Benchmark of the graft engine: the envelope stream, its detectors and the
driver-loop query chains.

    python3 perfbench/run.py --workload stream_pipeline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles `src/main/scala` and
`perfbench/jvm` with the Scala compiler that ships in Spark's jars
(`$SPARK_HOME/jars`) into `.bench_build/classes`; later runs reuse the
classes while the sources are unchanged. Each run works in
`.bench_build/work/` and leaves its log and, with `--trace 1`, its span
JSON lines in `.bench_build/runs/`.

The last line of standard output is the result:
`{"correct", "attempted", "failed", "metrics"}`, with every end-to-end metric
of BENCHMARK.json when `--trace 0` and every per-layer metric when
`--trace 1`. The line before it names the correctness checks and the source
seam check. Workloads, metrics and the reasons for them are in
perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("stream_pipeline", "iterative_chains")
RUN_TIMEOUT_S = 170
# Per-layer metrics (by name prefix) that do not apply to a workload: they
# read 0 there. Every other declared metric must be measured.
NOT_APPLICABLE = {
    "stream_pipeline": ("ops.graph_", "ops.llm_", "bench.passes_timed"),
    "iterative_chains": ("sources.", "flowlog.", "streaming.", "detect.",
                         "bench.waves_timed", "bench.first_setup_s"),
}
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit (as in the repository's build.sbt).
# -XX:-UsePerfData: no hsperfdata file in /tmp, so a run writes only in its checkout.
JAVA = ["java", "-XX:-UsePerfData"]
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("no Spark installation: set SPARK_HOME")
    return jars


def build(jars):
    """Compiles the engine and the benchmark's JVM side; skipped when the
    sources hash to the stamp of the last build."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no src/main/scala under the working directory: run from the repository root")
    sources += sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = subprocess.run(
        JAVA + ["-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.pathsep.join(jars), "-d", tmp] + sources,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        fail("compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(h.hexdigest())
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def jvm(jars, main, args, work, log_path, timeout_s):
    """Runs a JVM main to completion; its output goes to `log_path`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (JAVA + ["-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", os.pathsep.join([CLASSES] + jars), main] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=max(1, timeout_s))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def oracle_checks(work, data):
    """Each query's rows against its DuckDB oracle, compared as the
    repository's tools/compare.py does. Returns {check name: passed}."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("compare", os.path.join(ROOT, "tools", "compare.py"))
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    con = duckdb.connect()
    for t in ("lineitem", "part", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = os.path.join(work, "oracle")
    checks = {}
    for path in sorted(glob.glob(os.path.join(out, "*.sql"))):
        name = os.path.basename(path)[:-len(".sql")]
        try:
            with open(path) as f:
                sql = f.read()
            exp = con.execute(sql).df()
            got = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{out}/{name}/*.parquet"))],
                            ignore_index=True)
            ok = sorted(got.columns) == sorted(exp.columns) and len(got) == len(exp)
            if ok:
                cols = sorted(exp.columns)
                got, exp = got[cols], exp[cols]
                ok = ([compare.canon_dtype(d) for d in got.dtypes] ==
                      [compare.canon_dtype(d) for d in exp.dtypes]) and compare.frames_equal(got, exp)[0]
        except Exception as e:  # a comparator error is a failed check, never a pass
            print(f"perfbench: oracle {name}: {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: oracle check {name} FAILED", file=sys.stderr)
        checks[f"oracle_{name}"] = ok
    if not checks:
        fail("the JVM wrote no oracle queries")
    return checks


def selftest():
    jars = spark_jars()
    build(jars)
    work = os.path.join(BUILD, "work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "selftest.log")
    code = jvm(jars, "perfbench.SelfTest", [work], work, log, RUN_TIMEOUT_S)
    with open(log) as f:
        sys.stdout.writelines(line for line in f if line.startswith("[selftest]"))
    sys.exit(0 if code == 0 else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    if not a.workload:
        fail("--workload is required")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("no BENCHMARK.json in the working directory")
    bench = json.load(open(bench_json))

    jars = spark_jars()
    build(jars)
    run_start = time.time()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", os.path.join(work, "result.json")]
    data = os.path.join(work, "data")
    if a.workload == "iterative_chains":
        sys.path.insert(0, HERE)
        import tables
        t0 = time.time()
        os.makedirs(data)
        tables.write(data, a.seed)
        args += ["--data", data, "--datagen-s", str(time.time() - t0)]
    log = os.path.join(runs, tag + ".log")
    code = jvm(jars, "perfbench.Main", args, work, log, RUN_TIMEOUT_S - (time.time() - run_start))
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM {'timed out' if code is None else f'exited with {code}'}; log: {log}")
    res = json.load(open(os.path.join(work, "result.json")))
    checks = res["checks"]
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "iterative_chains":
        oc = oracle_checks(work, data)
        checks.update(oc)
        attempted += len(oc)
        failed += sum(not v for v in oc.values())
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(runs, tag + ".spans.jsonl"))

    seam = checks.pop("seam_default_session_ok")
    correct = failed == 0 and all(checks.values())
    if a.trace:
        declared, got = bench["per_layer"], res["layer"]
        skip = NOT_APPLICABLE[a.workload]
        missing = [m["name"] for m in declared
                   if m["name"] not in got and not m["name"].startswith(skip)]
        if missing:
            fail(f"per-layer metrics not measured: {missing}")
        metrics = {m["name"]: {"value": got.get(m["name"], {"value": 0})["value"], "unit": m["unit"]}
                   for m in declared}
        unknown = set(got) - {m["name"] for m in declared}
        if unknown:
            fail(f"undeclared per-layer metrics {sorted(unknown)}")
    else:
        got = res["e2e"]
        missing = [m["name"] for m in bench["end_to_end"] if not got.get(m["name"], {}).get("value")]
        if missing:
            fail(f"end-to-end metrics not measured: {missing}")
        metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"checks": checks, "seam_default_session_ok": seam,
                      "end_to_end_measured": res["e2e"] if a.trace else None}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
