#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark runner from source (sbt, offline) into $CARGO_TARGET_DIR
(default .bench_build); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from --seed into a fresh work
directory under .bench_work/, starts one JVM with a local[nproc] session,
measures for --seconds, checks the outputs, deletes the work directory
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of
perfbench/metrics.json, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes and warm-up steps per workload (see perfbench/README.md).
WORKLOADS = {
    "snapshot-mix": {"gen": lambda seed, out: gen.tables(seed, out, lineitems=30_000,
                                                         docs=300, vecs=300),
                     "warm": 2},
    "changefeed-views": {"gen": lambda seed, out: gen.feed(seed, out, keys=5_000,
                                                           batch=5_000, steps=20),
                         "warm": 5},
    "live-index-churn": {"gen": lambda seed, out: gen.churn(seed, out, docs=2_000, vecs=2_000,
                                                            orders=20_000, per_step=300,
                                                            steps=40),
                         "warm": 4},
}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 160


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap():
    """Fixed heap (-Xms = -Xmx): a quarter of RAM, 2..4 GiB. The inputs are
    small; a bigger heap only adds fresh pages for every JVM to touch on a
    host whose memory other tenants share."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
        g = kb // 4194304
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 4)}g"


def source_stamp(root):
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile graft + the runner once per source state; returns the classpath."""
    out = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    with open(os.path.join(root, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not jars:
        fail("build.sbt names no Spark jars directory (unmanagedBase)")
    env = dict(os.environ, GRAFTBENCH_BUILD_DIR=out, GRAFTBENCH_SPARK_JARS=jars.group(1),
               COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.server.autostart=false",
                            "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=env, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [x for x in lines if x.startswith(out) and ".jar" in x]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def metric_names():
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


# Queries whose operator is approximate by design. d03 is MinHash LSH
# with 16 bands of 2: a pair at Jaccard J is missed with probability
# (1 - J^2)^16, about 1% just above the 0.5 threshold, so on a random
# corpus an exact digest match is only likely, not certain. For these the
# gate is: every reported pair is in the exact answer with the exact
# Jaccard, and recall is at least the given share.
MIN_RECALL = {"d03_dedup_minhash_lsh": 0.9}


def check_snapshot(inputs, results):
    """Every query's Spark result must equal DuckDB's answer to the same
    query (SparkEntry.oracleSql) over the same parquet, compared as an
    order-insensitive digest of the canonicalised rows."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    def digest(df):
        return hashlib.sha256(df.to_csv(index=False, float_format="%.10g").encode()).hexdigest()

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events documents "
              "embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    checks = {}
    for q, sql in sorted(oracle.items()):
        try:
            got = canon(pd.read_parquet(os.path.join(results, q)))
            want = canon(con.execute(sql).fetchdf())
            if q in MIN_RECALL:
                g = set(map(tuple, got.to_numpy().tolist()))
                w = set(map(tuple, want.to_numpy().tolist()))
                ok = g <= w and len(g) >= MIN_RECALL[q] * len(w)
            else:
                ok = digest(got) == digest(want)
            checks[f"oracle_{q}"] = ok
        except Exception as e:  # a missing or unreadable result fails the gate
            print(f"graftbench: {q}: {e}", file=sys.stderr)
            checks[f"oracle_{q}"] = False
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    cp = build(root)
    spec = WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t_setup = time.time()
        inputs = os.path.join(work, "inputs")
        spec["gen"](args.seed, inputs)
        if args.trace and args.workload == "changefeed-views":
            # traced changefeed runs also trace the live-index layers
            gen.churn(args.seed, os.path.join(inputs, "churn"), docs=2_000, vecs=2_000,
                      orders=20_000, per_step=300, steps=6)
        inputs_ms = (time.time() - t_setup) * 1000
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d))
        out = os.path.join(work, "result.json")
        mem = heap()
        cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
                  f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
                  "-cp", cp, "graftbench.Main",
                  "--workload", args.workload, "--inputs", inputs, "--work", work,
                  "--seconds", str(args.seconds), "--seed", str(args.seed),
                  "--trace", str(args.trace), "--out", out,
                  "--warm", str(spec["warm"])])
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as f:
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        res = None
        if os.path.exists(out):
            with open(out) as f:
                res = json.load(f)
        if rc != 0 or res is None or not res.get("setup_end_ms"):
            with open(log) as f:
                tail = f.read().splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            fail(f"the {args.workload} JVM exited with {rc}")
        checks = dict(res["checks"])
        if args.workload == "snapshot-mix":
            checks.update(check_snapshot(inputs, os.path.join(work, "results")))
        bad = sorted(k for k, v in checks.items() if not v)
        if bad:
            print(f"graftbench: failed checks: {', '.join(bad)}", file=sys.stderr)
        failed = res["failed"]
        attempted = res["attempted"]
        if bad:
            failed = attempted  # a failing check fails every operation of the run
        names = metric_names()
        if args.trace:
            layers = dict(res["layers"])
            layers["setup.inputs_ms"] = {"value": inputs_ms, "unit": "ms"}
            metrics = {}
            for m in names["per_layer"]:
                v = layers.get(m["name"], {}).get("value")
                metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
        else:
            e2e = dict(res["e2e"])
            e2e["setup_s"] = {"value": res["setup_end_ms"] / 1000 - t_setup, "unit": "s"}
            metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                       for m in names["end_to_end"]}
        print(json.dumps({"notes": res.get("notes", {}), "checks": checks}), file=sys.stderr)
        print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
