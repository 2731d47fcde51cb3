#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload copilot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and
the harness from source (`perfbench/build.sbt`); each run then makes
the workload's tables from the seed (`perfbench/gen.py`), runs the
harness in one JVM (`graft.perfbench.Main`), adds the DuckDB oracle
check of `pipeline_batch`, and prints one JSON line last: with
`--trace 0` every end-to-end metric of `BENCHMARK.json`, with
`--trace 1` every per-layer metric. Lines before it, starting with
`#`, carry sample counts, host noise and check failures.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
JAR = os.path.join(HERE, "target", "perfbench.jar")
# Class-data archive of the classes a run loads: cuts JVM and Spark
# start-up, which every run pays before set-up, by several seconds.
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.built")
# TPC-H scale factor of each workload's generated tables (dq_ingest
# generates its CSV uploads in the harness), and the tables it reads.
SCALE = {"copilot": 0.01, "dq_ingest": None, "pipeline_batch": 0.1, "doc_stream": 0.02}
TABLES = {"doc_stream": ["documents"]}
# doc_stream streams seeded documents against a fixed corpus, whose
# stored index the harness keeps in CACHE until the next build.
FIXED = {"doc_stream"}
CACHE = os.path.join(WORK, "cache")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "gen.py")


def build():
    """Compile engine + harness once per source change."""
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest:
        return
    r = subprocess.run(["sbt", "-batch", "package"], cwd=HERE,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=700)
    if r.returncode != 0:
        fail("build failed")
    jars = glob.glob(os.path.join(HERE, "target", "scala-2.13", "*.jar"))
    if len(jars) != 1:
        fail(f"expected one harness jar, found {jars}")
    shutil.copy(jars[0], JAR)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    shutil.rmtree(CACHE, ignore_errors=True)
    # one short copilot run records the archive
    train = os.path.join(WORK, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    data = os.path.join(train, "data")
    gen_tables(data, 0, SCALE["copilot"])
    run_jvm("copilot", 0, 1, 0, data, os.path.join(train, "run"),
            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(train, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write("built\n")


def gen_tables(data, seed, scale, tables=None):
    sys.path.insert(0, HERE)
    import gen
    gen.generate(data, seed, scale, tables)


def tables(workload, seed):
    """The workload's seeded tables (kept only for the current seed)."""
    scale = SCALE[workload]
    if workload in FIXED:
        seed = 0
    data = os.path.join(WORK, f"data-{workload}-{seed}")
    for d in os.listdir(WORK):
        if d.startswith("data-") and os.path.join(WORK, d) != data:
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(data, exist_ok=True)
    if scale and not os.path.exists(os.path.join(data, "done")):
        gen_tables(data, seed, scale, TABLES.get(workload))
        open(os.path.join(data, "done"), "w").close()
    return data


def run_jvm(workload, seed, seconds, trace, data, run_dir, extra=()):
    cp = JAR + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Xlog:disable", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
           share + list(extra) +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--work", run_dir, "--cache", CACHE])
    with open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(os.path.join(run_dir, "jvm.err")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {p.returncode}")
    res = json.loads(lines[-1])
    res["lines"] = lines[:-1]
    return res


def oracle_check(run_dir, data):
    """Compare each query result the harness dumped with its DuckDB
    oracle on the same tables: column names and types, row count, and
    every value (floats bitwise). Returns the failed query names."""
    import duckdb
    out = os.path.join(run_dir, "oracle")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    failed = []
    for name in sorted(oracle):
        try:
            got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'")
            want = con.sql(oracle[name])
            gcols, wcols = sorted(got.columns), sorted(want.columns)
            gtypes = [str(t) for _, t in sorted(zip(got.columns, got.types))]
            wtypes = [str(t) for _, t in sorted(zip(want.columns, want.types))]
            sel = lambda cols: ", ".join(f'"{c}"' for c in cols)
            same = (gcols == wcols and gtypes == wtypes and
                    rows_equal(con.sql(f"SELECT {sel(gcols)} FROM got").fetchall(),
                               con.sql(f"SELECT {sel(wcols)} FROM want").fetchall()))
        except duckdb.Error as e:
            print(f"# oracle error on {name}: {e}")
            same = False
        if not same:
            failed.append(name)
    return failed


def rows_equal(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y or (isinstance(x, float) and isinstance(y, float)
                          and math.isnan(x) and math.isnan(y)):
                continue
            return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources next to perfbench/: run from a full checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    if not shutil.which("sbt") or "SPARK_HOME" not in os.environ:
        fail("sbt and SPARK_HOME are required")

    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    build()
    data = tables(args.workload, args.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    res = run_jvm(args.workload, args.seed, args.seconds, args.trace, data, run_dir)
    for line in res.pop("lines"):
        print(line)

    if args.workload == "pipeline_batch":
        t_oracle = time.time()
        bad = oracle_check(run_dir, data)
        print(f"# oracle check took {time.time() - t_oracle:.1f} s")
        for name in bad:
            print(f"# CHECK FAILED: {name} differs from its DuckDB oracle")
        print(f"# oracle: {len(bad)} of the checked queries differ")
        res["failed"] += len(bad)
        res["correct"] = res["correct"] and not bad

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and not args.trace:
            fail(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got["value"] if got else 0, "unit": m["unit"]}
    print(f"# run took {time.time() - t0:.1f} s")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
