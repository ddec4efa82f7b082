#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
this benchmark from source with sbt (perfbench/build.sbt depends on the
repository's own build); later runs reuse the build while no source
file has changed. Each run starts one JVM that sets up, measures and
checks one workload (see perfbench/manifest.json), then, for
registry_fulleval, compares every query's output with its DuckDB oracle.
The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json under --trace 0 and the
per-layer metrics under --trace 1. Everything a run writes stays under
.perfbench/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # a run must end within 180 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
WORKLOADS = ("sync_steady", "bulk_reload", "registry_fulleval")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Builds once per source state; returns the runtime classpath."""
    stamp = os.path.join(STATE, "build", "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec.get("digest") == digest:
            return rec["classpath"]
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"built in {time.monotonic() - t0:.0f} s")
    return cp


def run_jvm(cp, args, work, out, budget):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+ExitOnOutOfMemoryError", *opens,
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: the run did not finish in time")


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def oracle_check(work):
    """Each registry query's Spark outputs against DuckDB running its
    oracle SQL on the same tables: columns sorted by name, rows compared
    as sorted, normalised tuples. Every query's `build` output, from the
    warm-up with the shared caches built afresh, and the `reuse` output
    of those that read a shared cache, from after the measured passes
    with the caches warm. Returns the number of comparisons and the ones
    that differ."""
    import duckdb
    out = os.path.join(work, "registry_out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out, "data_dir.txt")) as f:
        data = f.read().strip()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, name)}/*.parquet')")
    rows = lambda df: sorted(tuple(norm(v) for v in r) for r in df.itertuples(index=False))
    bad = []
    checked = 0
    for q, sql in sorted(oracle.items()):
        want = con.execute(sql).fetchdf()
        want = want.reindex(sorted(want.columns), axis=1)
        for path in ("build", "reuse"):
            if not os.path.isdir(os.path.join(out, path, q)):
                continue
            checked += 1
            got = con.execute(f"SELECT * FROM read_parquet("
                              f"'{os.path.join(out, path, q)}/*.parquet')").fetchdf()
            got = got.reindex(sorted(got.columns), axis=1)
            if list(want.columns) != list(got.columns) or rows(want) != rows(got):
                log(f"oracle mismatch: {q} ({path}, {len(got)} rows vs {len(want)} from DuckDB)")
                bad.append(f"{q}/{path}")
    return checked, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from a checkout of the repository; "
                         "the program's sources are not beside perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath()
    run_started = time.monotonic()
    work = os.path.join(STATE, "work", f"{args.workload}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    # a run that built first gets the full run deadline after the build
    budget = DEADLINE_S - (time.monotonic() - run_started)
    rc = run_jvm(cp, args, work, out, budget)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: the benchmark JVM exited with {rc}")
    with open(out) as f:
        res = json.load(f)
    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "registry_fulleval":
        n, bad = oracle_check(work)
        attempted += n
        failed += len(bad)
    if args.trace:
        dest = os.path.join(STATE, "trace", f"{args.workload}-seed{args.seed}")
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(os.path.join(work, "trace"), dest)
        log(f"spans and per-layer table in {dest}")
    for msg in res["failures"]:
        log(f"check failed: {msg}")
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in names if m["name"] not in got]
    # per-layer metrics of other workloads read 0; a failed check is a
    # result too, printed with 0 for what it left unmeasured
    if missing and failed == 0 and not args.trace:
        raise SystemExit(f"perfbench: no value for {missing}")
    metrics = {m["name"]: {"value": got.get(m["name"], {"value": 0})["value"], "unit": m["unit"]}
               for m in names}
    log(f"run took {time.monotonic() - started:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
