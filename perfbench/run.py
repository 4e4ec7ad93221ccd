#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Steps:
  1. build the program and the harness from source (`perfbench/build.sbt`,
     cached per source state under `.bench_build/perfbench`);
  2. generate the seed's input tables (`gen.py`, cached per seed);
  3. start a fresh `local[nproc]` JVM that runs the workload's queries
     back to back, pass after pass, for S seconds (`Harness.scala`);
  4. check every pass's output of every query against the query's DuckDB
     oracle (`graft.SparkEntry.oracleSql`) on the same inputs, with the
     rules of `tools/check.py`: columns sorted by name, rows sorted, exact
     equality;
  5. print the metrics: end-to-end ones with `--trace 0`, per-layer ones
     (from the benchmark's own listeners) with `--trace 1`.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `perfbench/workloads.json` lists each
workload's queries in run order, each with the `graft` module its plan is
charged to in a traced run; why each workload was chosen is in
`BENCHMARK.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# a run (after the build) ends within this many seconds, or fails
RUN_DEADLINE_S = 160
WARM_PASSES = (1, 2)
# JVMs whose set-up time is sampled: all but the last exit after set-up
SETUP_SAMPLES = 2
# --add-opens Spark needs on JDK 17 outside spark-submit (the same list
# as the repository's build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = [s for s in subdirs if s != "target"]
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source state; returns the classpath."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no program source next to the benchmark (build.sbt, src/main)")
    stamp, cp_file = source_stamp(), os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        cached = json.load(open(cp_file))
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    json.dump({"stamp": source_stamp(), "classpath": lines[-1]}, open(cp_file, "w"))
    return lines[-1]


def clean_graft_tmp(data_dir):
    """Removes the program's own `/tmp/graft_*` artifact dirs keyed by this data dir."""
    slug = re.sub("[^A-Za-z0-9]", "_", data_dir)
    for p in glob.glob("/tmp/graft_*"):
        if slug in os.path.basename(p):
            shutil.rmtree(p, ignore_errors=True)


def run_jvm(classpath, args, log, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation, so peak RSS follows what the
    # program keeps live rather than the collector's resizing decisions
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", "--tmp", tmp] + args
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=WORK, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"harness JVM still running at the run deadline (log: {log})")
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness JVM exited with {r.returncode}")


def check_outputs(data_dir, out_dir, records, oracles):
    """Checks each record's output against its query's oracle; returns the failures."""
    import duckdb

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp', 'duckdb')}'")
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    wants, failures = {}, []
    for rec in records:
        q, why = rec["query"], rec["error"]
        if why is None:
            if q not in wants:
                wants[q] = canon(con.sql(oracles[q]).df())
            files = glob.glob(os.path.join(out_dir, f"p{rec['pass']}", q, "*.parquet"))
            if not files:
                why = "no output"
            else:
                got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
                want = wants[q]
                if list(got.columns) != list(want.columns):
                    why = f"schema {list(got.columns)} vs {list(want.columns)}"
                elif len(got) != len(want):
                    why = f"rows {len(got)} vs oracle {len(want)}"
                elif not got.equals(want):
                    why = "values differ from oracle"
        if why is not None:
            failures.append(f"pass {rec['pass']} {q}: {why}")
    con.close()
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in spec:
        fail(f"unknown workload {a.workload!r}; known: {sorted(spec)}")
    queries = list(spec[a.workload])
    classpath = build()
    deadline = time.monotonic() + RUN_DEADLINE_S

    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import gen
    gen_hash = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:8]
    data_dir = os.path.join(WORK, "data", f"seed{a.seed}_{gen_hash}")
    if not os.path.isdir(data_dir):
        gen.generate(data_dir, a.seed)
    rows = json.load(open(os.path.join(data_dir, "rows.json")))

    out_dir = os.path.join(WORK, "out", f"{a.workload}_seed{a.seed}_{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    clean_graft_tmp(data_dir)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    try:
        setup_samples = []
        for i in range(SETUP_SAMPLES - 1):
            run_jvm(classpath, ["--data", data_dir, "--out", out_dir, "--setup-only"],
                    os.path.join(WORK, f"setup{i}.log"), deadline)
            setup_samples.append(json.load(open(os.path.join(out_dir, "setup.json")))["setup_s"])
        query_modules = ",".join(f"{q}:{m}" for q, m in spec[a.workload].items())
        run_jvm(classpath, ["--data", data_dir, "--out", out_dir, "--queries", query_modules,
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                os.path.join(WORK, "harness.log"), deadline)
    finally:
        clean_graft_tmp(data_dir)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    res = json.load(open(os.path.join(out_dir, "result.json")))
    setup_samples.append(res["setup_s"])
    records = res["queries"]
    oracles = json.load(open(os.path.join(out_dir, "oracles.json")))
    failures = check_outputs(data_dir, out_dir, records, oracles)
    if a.trace:
        spans = os.path.join(WORK, "spans", f"{a.workload}_seed{a.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.move(os.path.join(out_dir, "spans.jsonl"), spans)
    shutil.rmtree(out_dir, ignore_errors=True)

    attempted, failed = len(records), len(failures)
    for f in failures[:20]:
        print(f"FAILED {f}")
    print(f"workload={a.workload} seed={a.seed} scale={gen.SCALE} cores={res['cores']} "
          f"queries={len(queries)} rows={rows}")
    print(f"pass walls (s), cold pass first: {[round(p['wall_s'], 3) for p in res['passes']]}")
    for q in queries:
        ts = [round(r["total_s"], 3) for r in records if r["query"] == q]
        print(f"  {q}: cold {ts[0]} s, warm {ts[1:]}")
    print(f"failed_frac={failed / attempted} ({failed} of {attempted} query executions)")
    print(f"setup_s samples: {setup_samples}")
    if a.trace:
        values = res["trace"]
        print(f"jobs outside any traced phase: {values['_untraced_jobs']}; spans: {spans}")
    else:
        # Timings come from the first two warm passes (pass 0 is the cold
        # pass of the fresh JVM, whose JIT and class-loading cost swings
        # with the host). Fixed pass indices keep the JIT state the same
        # from run to run however many passes the measuring time allows.
        # Each query and the pass wall are taken at their best of the two:
        # the second pass is nearly always the faster and varies less, and
        # the first stands in when a burst of host load hits the second.
        # query_p50_s is the median query, query_tail_s the slowest.
        warm = [r for r in records if r["pass"] in WARM_PASSES]
        per_query = [min(r["total_s"] for r in warm if r["query"] == q) for q in queries]
        walls = [p["wall_s"] for i, p in enumerate(res["passes"]) if i in WARM_PASSES]
        print(f"query_p50_s / query_tail_s: median / slowest of {len(per_query)} per-query "
              f"best times over {len(walls)} warm passes")
        values = {
            "wall_s": min(walls),
            "query_p50_s": statistics.median(per_query),
            "query_tail_s": max(per_query),
            "setup_s": statistics.median(setup_samples),
            "peak_rss_mb": res["peak_rss_mb"],
            "retained_heap_mb": res["retained_heap_mb"],
        }
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
