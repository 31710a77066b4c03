#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine with the
harness in perfbench/ (sbt, offline) and writes the fixture tables; later
runs reuse both while the sources are unchanged. Every run works in a fresh
scratch directory under perfbench/.run/ and removes it at exit. With
--trace 0 the result carries the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The engine's results are checked outside
the timed window; a wrong result counts as a failed operation.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import re
import shutil
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
SF = 0.001
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha1()
    tops = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:])
        sys.exit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- checks

def check_queries(fixtures, results, oracle, sketches):
    """Compare each dumped query result with its DuckDB oracle through the
    repository's scripts/oracle_check.py; check the sketches without an
    oracle against exact counts within their test-pinned 5%. Returns the
    names that do not match."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import oracle_check
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump({q: sql for q, sql in oracle.items() if q not in sketches}, f)
    report = io.StringIO()
    try:
        with contextlib.redirect_stdout(report):
            oracle_check.main(fixtures, results, only_present=True)
    except SystemExit:
        pass
    except Exception as e:  # the compare itself broke: nothing counts as checked
        log(f"[check] oracle compare failed: {e}")
        return sorted(oracle)
    log(report.getvalue().rstrip())
    bad = re.findall(r"^FAIL (\S+?):", report.getvalue(), re.M)
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{fixtures}/events.parquet')")
    exact = dict(con.execute(
        "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1").fetchall())
    for q in sorted(sketches):
        try:
            got = pq.read_table(os.path.join(results, q)).to_pandas()
            col = "approx_uv" if "approx_uv" in got.columns else "est_uv"
            ok = len(got) == len(exact) and all(
                abs(r[col] - exact[r["event_type"]]) <= 0.05 * exact[r["event_type"]]
                for _, r in got.iterrows())
        except Exception as e:  # an unreadable dump is a mismatch
            log(f"[check] {q}: {e}")
            ok = False
        if not ok:
            log(f"[check] {q}: sketch outside its bound")
            bad.append(q)
    return bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"unknown workload {args.workload}")
    if not os.path.exists(os.path.join(REPO, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("the engine sources (src/main/scala) are not in this checkout")

    cp = build()
    import fixtures
    fix_dir = os.path.join(BUILD, f"fixtures-sf{SF}")
    fixtures.generate(fix_dir, SF)
    pool = os.path.join(BUILD, f"stream-pool-sf{fixtures.STREAM_POOL_SF}", "events.csv")
    fixtures.generate_stream_pool(pool)

    root = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(root, "tmp"))
    try:
        out = os.path.join(root, "out.json")
        cores = min(4, os.cpu_count() or 1)
        cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={root}/tmp"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--cores", str(cores), "--fixtures", fix_dir, "--pool", pool, "--root", root,
                  "--out", out, "--spans", os.path.join(HERE, ".out")])
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(out):
            sys.exit(f"benchmark JVM failed with code {r.returncode}")
        with open(out) as f:
            res = json.load(f)

        failed = res["failed"]
        detail = res["detail"]
        if args.workload == "query_mix":
            bad = check_queries(fix_dir, os.path.join(root, "results"),
                                detail["oracle"], set(detail["sketches"]))
            failed += sum(max(1, detail["runs"].get(q, 0)) for q in bad)
        names = bench["per_layer"] if args.trace else bench["end_to_end"]
        got = res["metrics"]
        metrics = {}
        for m in names:
            # a layer the workload leaves idle has no entry and reads 0
            v = float(got.get(m["name"], 0.0)) if args.trace else float(got[m["name"]])
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        log(json.dumps({"detail": {k: v for k, v in detail.items() if k != "oracle"}}, default=str))
        bad_values = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
        if bad_values:
            sys.exit(f"metrics without a finite value: {bad_values}")
        print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
