#!/usr/bin/env python3
"""graft performance benchmark: one run of one workload.

    python3 perfbench/run.py --workload <trend_live|corpus_batch> --seed <n> \
        --seconds <n> --trace <0|1>

Run from the repository root. The first run compiles the engine (src/main)
and the harness (perfbench/scala) with the Scala compiler shipped in Spark's
jars, into .bench_build/perfbench/; later runs reuse the classes while the
sources are unchanged. Each run then generates its inputs from --seed, drives
the workload in one JVM at local[<cores>], checks the outputs, removes its
scratch directory, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (the trace file goes to .bench_build/perfbench/).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

def spark_home():
    """$SPARK_HOME, else the Spark install whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(spark_home(), "jars")
CORES = len(os.sched_getaffinity(0))  # local[$(nproc)]
HEAP = "3g"
RUN_TIMEOUT_S = 170

# Inputs and harness settings per workload (see README.md for the rationale).
WORKLOADS = {
    "trend_live": {
        "gen": lambda n_batches: ["--tweet-batches", str(n_batches), "--tweet-rows", "500"],
        "harness": ["--cadence-ms", "4500", "--warmup-batches", "3",
                    "--open-warmup-batches", "2", "--trigger-ms", "250"],
    },
    "corpus_batch": {
        "gen": lambda _: ["--docs", "1500", "--vecs", "800"],
        "harness": ["--warmup-rounds", "2", "--mix", ",".join([
            "q3_hashtag_explode", "q18_text_stats", "q18i_repetition", "q16_exact_dedup",
            "q16c_simhash_neardup", "q17_cosine_topk", "q17j_pq_topk"])],
    },
}

# Per-layer metrics a workload does not exercise; reported as 0.
NOT_EXERCISED = {
    "trend_live": ("tables.", "operators.", "query.", "index.",
                   "kernel.word_shingles", "kernel.minhash", "kernel.vec_dot"),
    "corpus_batch": ("snapshot.", "source.", "sink.", "stream.", "gen."),
}

# Recall floor of the ANN query in the mix against the exact top-k: a copy of
# the addFloor("q17j_pq_topk", ...) entry in src/main/scala/graft/Bounds.scala,
# which exposes the floors only through the checks that run the queries.
RECALL_FLOORS = {"q17j_pq_topk": 0.7}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not main:
        fail("no engine sources under src/main/scala: run from a graft checkout")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        fail("no Spark jars with the Scala compiler found: set SPARK_HOME")
    return main + harness


def build():
    """Compile engine + harness into one jar, and dump a class-data archive of
    Spark's start-up classes beside it, once per source fingerprint. Returns
    the JVM arguments that put both to use."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    done = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    jar, jsa = os.path.join(done, "graft.jar"), os.path.join(done, "classes.jsa")
    classpath = jar + os.pathsep + os.path.join(SPARK_JARS, "*")
    if not os.path.isdir(done):
        for old in glob.glob(os.path.join(BUILD, "build-*")):  # superseded builds
            shutil.rmtree(old, ignore_errors=True)
        tmp = done + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(SPARK_JARS, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", classes,
             "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail("compilation failed")
        res = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, classes, dirs_exist_ok=True)
        with zipfile.ZipFile(os.path.join(tmp, "graft.jar"), "w") as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
        shutil.rmtree(classes)
        os.remove(argfile)
        os.rename(tmp, done)
        # the archive is dumped against the final jar path, at the exit of a
        # JVM that runs both workloads briefly on small inputs, so that it
        # holds the classes a run loads; a JVM that cannot map it (another
        # JDK) silently runs without it
        scratch = os.path.join(BUILD, f"cds-{os.getpid()}")
        try:
            data = os.path.join(scratch, "data")
            for w in WORKLOADS:
                generate(w, 0, 1, 1, data)
            settings = [x for w in WORKLOADS.values() for x in w["harness"]]
            run_jvm(classpath, ["--workload", "class_list", "--data", data, "--out", scratch,
                                "--scratch", scratch, "--cores", str(CORES), "--seed", "0",
                                "--seconds", "1", "--trace", "1"] + settings,
                    scratch, time.time() * 1000.0, [f"-XX:ArchiveClassesAtExit={jsa}"])
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.0f} s", file=sys.stderr)
    return classpath, ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])


def generate(workload, seed, seconds, trace, data):
    cfg = WORKLOADS[workload]
    n_batches = 0
    if workload == "trend_live":
        h = dict(zip(cfg["harness"][::2], cfg["harness"][1::2]))
        phases = 2 if trace else 1  # a traced run adds a traced window
        per_phase = max(1, seconds * 1000 // int(h["--cadence-ms"]))
        n_batches = (int(h["--warmup-batches"]) + int(h["--open-warmup-batches"]) +
                     per_phase * phases)
    sys.path.insert(0, HERE)
    import gen
    gen.main(["--out", data, "--seed", str(seed)] + cfg["gen"](n_batches))


def run_jvm(classpath, args, scratch, start_ms, jvm_flags=()):
    props = {
        "java.io.tmpdir": os.path.join(scratch, "tmp"),
        "graft.index.dir": os.path.join(scratch, "index"),
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "derby.system.home": os.path.join(scratch, "derby"),
    }
    for k in ("java.io.tmpdir", "spark.local.dir", "spark.sql.warehouse.dir"):
        os.makedirs(props[k], exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + list(jvm_flags) + ADD_OPENS +
           [f"-D{k}={v}" for k, v in props.items()] +
           ["-cp", classpath, "perfbench.Harness"] + args)
    log = open(os.path.join(scratch, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch)
    try:
        rc = p.wait(timeout=max(10, RUN_TIMEOUT_S - (time.time() * 1000 - start_ms) / 1000))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(scratch, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"harness JVM exited with {rc}")


def canon(df):
    """Rows as strings, columns by name: the repo's DuckDB oracle compare."""
    df = df[sorted(df.columns)]
    return ["|".join(repr(v) for v in row) for row in df.itertuples(index=False)]


def check_corpus(data, out, result):
    """Compare each mix query's set-up output with the DuckDB oracle; the ANN
    queries must reach their recall floor against the exact top-k. Returns the
    names of the queries whose output is wrong, and the recalls."""
    import duckdb
    con = duckdb.connect(config={"threads": CORES, "memory_limit": "1GB"})
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def spark_out(q):
        return con.execute(f"SELECT * FROM '{out}/outputs/{q}/*.parquet'").fetchdf()

    wrong, recalls = [], {}
    queries = [k[len("execs."):] for k in result["info"] if k.startswith("execs.")]
    for q in queries:
        try:
            got = spark_out(q)
            if q in RECALL_FLOORS:
                exact = con.execute(oracle["q17_cosine_topk"]).fetchdf()
                pairs = lambda df: set(zip(df["probe_id"], df["neighbor_id"]))
                recalls[q] = len(pairs(got) & pairs(exact)) / max(1, len(pairs(exact)))
                ok = recalls[q] >= RECALL_FLOORS[q]
            else:
                want = con.execute(oracle[q]).fetchdf()
                ok = sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want)
        except Exception as e:  # a missing output is a wrong output
            print(f"perfbench: check {q}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            wrong.append(q)
    return wrong, recalls


def main():
    ap = argparse.ArgumentParser(description="graft benchmark, one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath, jvm_flags = build()
    scratch = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    data, out = os.path.join(scratch, "data"), os.path.join(scratch, "out")
    trace_file = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    try:
        start_ms = time.time() * 1000.0
        generate(a.workload, a.seed, a.seconds, a.trace, data)
        run_jvm(classpath, ["--workload", a.workload, "--data", data, "--out", out,
                            "--scratch", scratch, "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--seed", str(a.seed),
                            "--cores", str(CORES), "--trace-file", trace_file]
                + WORKLOADS[a.workload]["harness"], scratch, start_ms, jvm_flags)
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        attempted, failed = int(result["attempted"]), int(result["failed"])
        layer = result["layer"]
        if a.workload == "corpus_batch":
            wrong, recalls = check_corpus(data, out, result)
            failed = min(attempted, failed + sum(
                int(result["info"][f"execs.{q}"]) for q in wrong))
            for q, r in recalls.items():
                layer[f"index.recall_{q}"] = r
            result["info"]["wrong_outputs"] = ",".join(wrong)
        layer["fail_ratio"] = failed / max(1, attempted)
        e2e = dict(result["e2e"])
        e2e["setup_s"] = (result["first_timed_ms"] - start_ms) / 1000.0
        if a.trace:
            picked, names = layer, [m["name"] for m in spec["per_layer"]]
            for n in names:
                if n not in picked and n.startswith(NOT_EXERCISED[a.workload]):
                    picked[n] = 0.0
        else:
            picked, names = e2e, [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        print("perfbench: info " + json.dumps(result["info"], sort_keys=True))
        missing = [n for n in names if picked.get(n) is None]
        if missing:
            fail(f"metrics not measured: {missing}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": picked[n], "unit": units[n]} for n in names},
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
