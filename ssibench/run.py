#!/usr/bin/env python3
"""Benchmark of the graft Spark engine, run from the root of a checkout.

    python3 ssibench/run.py --workload ssi_batch --seed 1 --seconds 6 --trace 0

Compiles the program and this benchmark from source on first use (into
./.bench_build, with the Scala compiler from the Spark distribution),
runs one workload in a fresh JVM on a local[nproc] session, checks its
outputs, and prints the metrics named in
BENCHMARK.json. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 a traced run adds listeners and
spans and reports the per-layer metrics. Every run also writes an
artifact with the seed, the input properties and a host-noise record
under ./.bench_build/ssibench/. The benchmark's arithmetic has unit
tests: cd ssibench && sbt test.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ssi_batch", "ssi_stream", "curation_batch")
RUN_LIMIT_S = 175  # every run, build excluded, ends within this
BUILD_LIMIT_S = 600
ORACLE_RESERVE_S = 15
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"ssibench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:  # a timeout, or SIGTERM / Ctrl-C on this script
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def jar_dir(root):
    """The Spark distribution's jar directory, as the program's build.sbt
    names it (`unmanagedBase := file("...")`), else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        fail(f"Spark jar directory {d!r} not found")
    return d


def build(root, bench, work):
    """Compile the program and the benchmark once per source stamp with the
    Scala compiler that ships with Spark (the build's Scala version), and
    return the runtime classpath. It calls no build tool, so it writes
    nothing outside ./.bench_build."""
    jars = jar_dir(root)
    jar_cp = [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]
    srcs = []
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(bench, "src", "main", "scala")):
        for d, _, fs in sorted(os.walk(top)):
            srcs += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    h = hashlib.sha256()
    for f in [os.path.join(root, "build.sbt")] + jar_cp + srcs:
        h.update(f.encode())
        if not f.endswith(".jar"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(work, "classes")
    stamp_file = os.path.join(work, "classes.stamp")
    cp = os.pathsep.join([classes] + jar_cp)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    tmp = os.path.join(work, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(work, "scalac.args")
    with open(args_file, "w") as f:
        # quoted: the compiler splits an argument file on white space
        f.write("\n".join(f'"{x}"' for x in
                          ["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jar_cp)] + srcs))
    print(f"ssibench: compiling {len(srcs)} sources", file=sys.stderr)
    rc, out, _ = run_group(["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={work}",
                            "-cp", os.pathsep.join(jar_cp), "scala.tools.nsc.Main",
                            "@" + args_file],
                           BUILD_LIMIT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out[-6000:])
        fail(f"build failed (exit {rc})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def oracle_check(out_dir):
    """Replay each composition's oracle SQL in DuckDB over the same input
    directory and compare as the repository's local verifier does:
    column names, SQL-level column types, row count, then exact values
    after its canonical ordering (columns by name, rows by all columns).
    The compare sequence follows tools/local_verify.py's main loop."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    sys.dont_write_bytecode = True  # leave tools/ as checked out
    from local_verify import canon
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out_dir, "input_dir")) as f:
        input_dir = f.read().strip()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{input_dir}/{t}.parquet/*.parquet'")
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = "no output (composition failed)"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{path}/*.parquet'").df()
            want = con.execute(sql).df()
            g, w = canon(got), canon(want)
            st = dict(con.execute("SELECT column_name, column_type FROM "
                                  f"(DESCRIBE SELECT * FROM '{path}/*.parquet')").fetchall())
            ot = dict(con.execute("SELECT column_name, column_type FROM "
                                  f"(DESCRIBE {sql})").fetchall())
            if list(g.columns) != list(w.columns):
                verdicts[name] = f"columns {list(g.columns)} != {list(w.columns)}"
            elif any(st.get(c) != ot.get(c) for c in g.columns):
                verdicts[name] = f"column types {st} != {ot}"
            elif len(g) != len(w):
                verdicts[name] = f"rows {len(g)} != {len(w)}"
            else:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
                verdicts[name] = "pass"
        except Exception as e:  # a failed replay or compare is a failure
            verdicts[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
    return verdicts


def main():
    # SIGTERM unwinds like Ctrl-C, so run_group kills the worker's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "ssibench")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "tools", "local_verify.py"))):
        fail("run from the root of a checkout of the program (build.sbt, "
             "src/main/scala/graft and tools/local_verify.py not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".bench_build", "ssibench")
    os.makedirs(work, exist_ok=True)
    cp = build(root, bench, work)

    t0 = time.monotonic()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(work, "run-" + tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "ssibench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", run_dir])
    try:
        rc, _, err = run_group(cmd, RUN_LIMIT_S - ORACLE_RESERVE_S, cwd=run_dir,
                               stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                               stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail("worker timed out")
    for line in err.splitlines():  # the worker's own diagnostics
        if line.startswith(WORKLOADS):
            print(line, file=sys.stderr)
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.isfile(result_file):
        sys.stderr.write(err[-6000:])
        fail(f"worker failed (exit {rc})")
    with open(result_file) as f:
        r = json.load(f)

    attempted, failed = r["attempted"], r["failed"]
    if a.workload == "curation_batch":
        r["oracle"] = oracle_check(os.path.join(run_dir, "out"))
        failed += sum(v != "pass" for v in r["oracle"].values())
        for name, v in r["oracle"].items():
            if v != "pass":
                print(f"ssibench: oracle mismatch {name}: {v}", file=sys.stderr)
    r["failed"] = failed
    r["failed_ratio"] = failed / attempted if attempted else 1.0
    r["wall_s"] = time.monotonic() - t0

    if a.trace == "1":
        names, values = spec["per_layer"], r["per_layer"]
        print(f"per-layer table: {a.workload} seed {a.seed}")
        for m in names:
            print(f"  {m['name']:34s} {values.get(m['name'], float('nan')):>16.4f} {m['unit']}")
        print(f"  tracing overhead: {values.get('bench.trace_overhead_pct', float('nan')):.2f}% "
              "(traced window against the mean of the untraced windows before and after it)")
        for s in r.get("span_self_ms", []):
            print(f"  span {s['name']:32s} total {s['total_ms']:12.1f} ms  self {s['self_ms']:12.1f} ms")
    else:
        names, values = spec["end_to_end"], r["end_to_end"]
    metrics = {}
    for m in names:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing from the run or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"{a.workload}: failed_ratio {r['failed_ratio']} ({failed}/{attempted}); "
          f"started_under_load {r['host']['started_under_load']}; "
          f"cpu_steal_pct {r['host']['cpu_steal_pct']:.1f}")
    with open(os.path.join(work, f"artifact-{tag}.json"), "w") as f:
        json.dump(r, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
