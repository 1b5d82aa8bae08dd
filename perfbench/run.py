#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <etl_daily|query_warm>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (the harness build in perfbench/
compiles the checkout's src/main/scala); later runs reuse the build
while the sources are unchanged. Each run then

  1. generates the workload's inputs from the seed (gen.py),
  2. runs perfbench.Main in one JVM: set-up, the timed closed loop for
     --seconds, then the workload's own output checks,
  3. checks the saved op outputs against the program's DuckDB oracle
     SQL on the same inputs,

and prints, as the last line, one JSON object: correct, attempted,
failed and the metrics (end-to-end with --trace 0, per-layer with
--trace 1). Everything it writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 160

sys.dont_write_bytecode = True  # leave no bytecode caches in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes, each from the program's own data or the reference DAG it
# reproduces (perfbench/README.md, "Input sizes", has the reasons):
# query_warm: the tables of the program's correctness scale (sf0.01), but
# orders at the row count and per-day density of its bench scale (sf0.1,
# about 62 orders a day over 2405 days)
CORPUS_SF, CORPUS_ORDERS_SF = 0.01, 0.1
# etl_daily: one strategy per market segment (the 5 series the program's
# multi-series operators run over), a backfill of the one-year look-back
# the reference's risk transform needs, sf0.1's 62 orders a day and 4
# line items an order, and room for more increments than a run makes
ETL_STRATEGIES, ETL_BACKFILL_DAYS, ETL_INCREMENTS = 5, 31, 180
ETL_ORDERS_PER_DAY, ETL_LINES_PER_ORDER = 62, 4

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return the classpath."""
    stamp, cp_file = sources_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    train_class_archive(cp[-1])
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    return cp[-1]


def train_class_archive(classpath):
    """Dump the classes a query_warm warm-up loads into a class-data
    archive that every later benchmark JVM maps instead of loading them
    (about a quarter off a cold JVM's time to its first results). Every
    run uses it, so a build without one fails."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "work", "class-archive")
    shutil.rmtree(work, ignore_errors=True)
    make_inputs("query_warm", 0, os.path.join(work, "inputs"))
    rc, log_path = run_jvm(classpath, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                           ["--workload", "query_warm", "--seed", "0", "--seconds", "0",
                            "--trace", "0"], timeout=600)
    if rc != 0 or not os.path.exists(ARCHIVE):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"class-data archive training failed ({rc})")
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(classpath, work, flags, args, timeout):
    """perfbench.Main in its own JVM with `work` as its directory; returns
    (exit code or "timeout", log path)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap size, so the collector sizes it the same way on every
    # run, but not pre-touched: heap pages become resident only when the
    # program uses them, so peak RSS moves with its heap use as well as
    # with what it holds off the heap
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] + flags
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--work", work,
              "--inputs", os.path.join(work, "inputs")] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    return rc, log_path


def make_inputs(workload, seed, inputs):
    if workload == "query_warm":
        gen.corpus(os.path.join(inputs, "corpus"), seed, CORPUS_SF, CORPUS_ORDERS_SF)
    else:
        gen.etl(os.path.join(inputs, "etl"), seed, ETL_STRATEGIES, ETL_BACKFILL_DAYS,
                ETL_INCREMENTS, ETL_ORDERS_PER_DAY, ETL_LINES_PER_ORDER)


# -- oracle check: the canonicalisation of the program's tools/check.py --

def _isnull(v):
    if v is None:
        return True
    try:
        return v != v
    except Exception:
        return False


def _canon(df):
    cols = sorted(df.columns)
    rows = df[cols].values.tolist()
    return cols, sorted(rows, key=lambda r: [(_isnull(v), str(type(v)), str(v)) for v in r])


def _eq(a, b):
    if _isnull(a) or _isnull(b):
        return _isnull(a) and _isnull(b)
    return a == b


def oracle_check(name, spec, out_dir):
    """True when the saved output equals the oracle SQL's result exactly."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(spec["dir"], f"{t}.parquet")
            if os.path.exists(p):
                glob = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")
        mine = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        theirs = con.sql(spec["sql"]).df()
    except Exception as e:  # a failing oracle is a failed check
        print(f"oracle {name}: {e}", file=sys.stderr)
        return False
    finally:
        con.close()
    (mc, mr), (tc, tr) = _canon(mine), _canon(theirs)
    ok = mc == tc and len(mr) == len(tr) and all(
        _eq(a, b) for r1, r2 in zip(mr, tr) for a, b in zip(r1, r2))
    if not ok:
        print(f"oracle {name}: output differs from the oracle", file=sys.stderr)
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_daily", "query_warm"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    # the deadline counts from here: a build happens only on a checkout's
    # first run, which may take longer
    t_start = time.time()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    make_inputs(a.workload, a.seed, os.path.join(work, "inputs"))
    flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    rc, log_path = run_jvm(
        classpath, work, flags,
        ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace)],
        timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc}); work dir kept at {work}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    with open(log_path) as f:
        for ln in f:
            if ln.startswith("[perfbench]"):
                sys.stderr.write(ln)

    oracle = res["oracle"]
    with ThreadPoolExecutor(4) as pool:
        verdicts = list(pool.map(lambda n: oracle_check(n, oracle[n], os.path.join(work, "out")),
                                 oracle))
    attempted = res["attempted"] + len(verdicts)
    failed = res["failed"] + verdicts.count(False)

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    have = res["per_layer"] if a.trace else res["e2e"]
    metrics = {m["name"]: have[m["name"]] for m in want}
    if a.trace:
        spans_dir = os.path.join(BUILD, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(spans_dir, f"{a.workload}-{a.seed}.jsonl"))
    for k, v in metrics.items():
        print(f"{k:40s} {v['value']:>14.6g} {v['unit']}")
    print("diagnostics " + json.dumps(res["diagnostics"]))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
