#!/usr/bin/env python3
"""End-to-end benchmark of graft's production validation run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program from
source (sbt, offline) into perfbench/target. Each run then

  1. generates its inputs from the seed (DuckDB, under perfbench/work),
  2. times the set-up of two fresh JVMs (SparkSession ready, media
     catalog collected),
  3. runs the workload in one JVM (perfbench/src/main/scala/perfbench),
  4. checks every stored output against DuckDB running the engine's own
     oracle SQL (`graft.SparkEntry.oracleSql`), and
  5. prints one detail line and, last, the result line:
     {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The exit code is non-zero on any
oracle mismatch, failed operation or silent no-op resume.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "sources.sha256")
DEADLINE_S = 170

# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    # Checkpoint.run, 3 buckets over 24k docs: per-bucket re-scans and the
    # fixed Spark jobs of every bucket dominate; report queries in between.
    "many_buckets": dict(rows=24_000, buckets=3, report_queries=12),
    # verdictStream: repeated drains of a landed backlog of 16 files, each
    # by a fresh query, then one file per period on an open-loop schedule,
    # below saturation.
    "stream_arrivals": dict(backlog_files=16, backlog_rows=160_000, arrive_rows=1_000,
                            arrive_period_ms=1000, warm_rows=1_000, buckets=1),
}

SEVERITY_RANK = {"info": 0, "warning": 1, "error": 2, "fatal": 3}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building the program and the benchmark (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        die("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(digest)


# ---- inputs ------------------------------------------------------------------

def lineitem_sql(n, seed, salt):
    """n lineitem rows. Every rule injection is a function of l_orderkey, so
    each seed keeps the full rule mix; (l_orderkey, l_linenumber) repeats
    like the TPC-H-shaped sandbox data, giving natural duplicate doc_ids."""
    def h(k):
        return f"hash(i, {seed}, {salt}, {k})"
    orders, parts = max(1, n // 4), max(1000, n // 30)
    return f"""SELECT
        CAST({h(1)} % {orders} AS BIGINT) AS l_orderkey,
        CAST(1 + {h(2)} % {parts} AS BIGINT) AS l_partkey,
        CAST({h(3)} % 100 AS BIGINT) AS l_suppkey,
        CAST(1 + {h(4)} % 7 AS INTEGER) AS l_linenumber,
        CAST(1 + {h(5)} % 50 AS DOUBLE) AS l_quantity,
        CAST({h(6)} % 10000000 AS DOUBLE) / 100 AS l_extendedprice,
        CAST({h(7)} % 11 AS DOUBLE) / 100 AS l_discount,
        CAST({h(8)} % 9 AS DOUBLE) / 100 AS l_tax,
        ['A', 'N', 'R'][1 + CAST({h(9)} % 3 AS INTEGER)] AS l_returnflag,
        ['F', 'O'][1 + CAST({h(10)} % 2 AS INTEGER)] AS l_linestatus,
        TIMESTAMP '1995-01-01' + to_days(CAST({h(11)} % 2500 AS INTEGER)) AS l_shipdate,
        {h(12)} AS ord
      FROM range({n}) t(i)"""


def write_parquet(con, sql, path):
    """One row group per file, like the sandbox tables: the engine's
    Tables.read must fan the scan out itself."""
    tbl = con.sql(sql).arrow()
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
    return tbl.num_rows


def write_sf_dir(con, d, n, seed, salt):
    os.makedirs(d, exist_ok=True)
    cols = "* EXCLUDE (ord)"
    rows = write_parquet(con, f"SELECT {cols} FROM ({lineitem_sql(n, seed, salt)}) ORDER BY ord",
                         os.path.join(d, "lineitem.parquet"))
    write_parquet(con, f"SELECT i AS p_partkey, 'part#' || i AS p_name "
                       f"FROM range(1, {max(1000, n // 30) + 1}) t(i) ORDER BY i",
                  os.path.join(d, "part.parquet"))
    return rows


def write_stream_slices(con, d, w, seed, seconds):
    """Backlog and arrival files partition the stream's lineitem; the seed
    picks which rows go to which file and their order inside it."""
    nb = w["backlog_files"]
    na = max(3, int(seconds * 1000 // w["arrive_period_ms"]))
    per_backlog = w["backlog_rows"] // nb
    sizes = [per_backlog] * nb + [w["arrive_rows"]] * na
    total = write_sf_dir(con, d, sum(sizes), seed, 1)
    li = os.path.join(d, "lineitem.parquet")
    con.execute(f"CREATE OR REPLACE TEMP TABLE ranked AS SELECT *, "
                f"row_number() OVER (ORDER BY hash(l_orderkey, l_linenumber, l_partkey, "
                f"l_extendedprice, {seed}), l_extendedprice, l_partkey) - 1 AS pos "
                f"FROM read_parquet('{li}')")
    start = 0
    for k, size in enumerate(sizes):
        # distinct names: all files land in one watched directory
        name = f"backlog/b{k:03d}.parquet" if k < nb else f"arrive/a{k - nb:03d}.parquet"
        path = os.path.join(d, "slices", name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_parquet(con, f"SELECT * EXCLUDE (pos) FROM ranked WHERE pos >= {start} "
                           f"AND pos < {start + size} ORDER BY pos", path)
        start += size
    warm = os.path.join(d, "slices", "warm")
    os.makedirs(warm, exist_ok=True)
    write_parquet(con, f"SELECT * EXCLUDE (ord) FROM ({lineitem_sql(w['warm_rows'], seed, 10)}) "
                       f"ORDER BY ord", os.path.join(warm, "w000.parquet"))
    return total, sizes


# ---- JVM runs ----------------------------------------------------------------

def java_cmd(work, main, args):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = f"{CLASSES}{os.pathsep}{os.path.join(os.environ['SPARK_HOME'], 'jars', '*')}"
    return ["java", "-Xms1g", "-Xmx1g", *opens, f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, main, *args]


def start_jvm(work, main, args, log_name):
    """Starts a JVM; returns (process, seconds from spawn to its READY line)."""
    err = open(os.path.join(work, log_name), "w")
    t0 = time.perf_counter()
    p = subprocess.Popen(java_cmd(work, main, args), stdout=subprocess.PIPE,
                         stderr=err, text=True, cwd=work)
    for line in p.stdout:
        if line.strip() == "READY":
            return p, time.perf_counter() - t0
    p.wait()
    err.close()
    die(f"{main} exited {p.returncode} before set-up finished; see {log_name}:\n"
        + open(os.path.join(work, log_name)).read()[-3000:], 4)


def finish(p, timeout):
    try:
        p.stdout.read()
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return -9


# ---- correctness -------------------------------------------------------------

def diff_rows(con, a, b):
    return con.sql(f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
                   f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()[0]


VERDICT_COLS = "doc_id, verdict, n_fatal, n_error, n_warn, n_info"
VIOLATION_COLS = "doc_id, rule_id, severity, path, message"


def check(res, input_dir, oracle):
    """Returns (failed operations, messages). Every stored run, report answer
    and stream output is compared with DuckDB running the oracle SQL."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{input_dir}/lineitem.parquet')")
    con.execute(f"CREATE TEMP TABLE ev AS {oracle['validate_verdicts']}")
    con.execute(f"CREATE TEMP TABLE ex AS {oracle['validate_violations']}")
    failed, msgs = 0, []
    for run in res["runs"]:
        if not run["check"]:
            continue
        d = run["dir"]
        bad = diff_rows(con, f"SELECT {VERDICT_COLS} FROM ev",
                        f"SELECT {VERDICT_COLS} FROM read_parquet('{d}/verdicts/*/*.parquet')")
        bad += diff_rows(con, f"SELECT {VIOLATION_COLS} FROM ex",
                         f"SELECT {VIOLATION_COLS} FROM read_parquet('{d}/violations/*/*.parquet')")
        if bad:
            failed += 1
            msgs.append(f"run {d}: {bad} rows differ from the oracle")
    if res.get("reports"):
        d = res["report_dir"]
        psi = con.sql(oracle["drift_stored_runs"]).fetchone()[1]
        expected = {}
        for r in res["reports"]:
            if r["result"] is None:
                continue
            key = (r["kind"], r["severity"], r["bucket"])
            if key not in expected:
                keep = ", ".join(f"'{s}'" for s, k in SEVERITY_RANK.items()
                                 if k >= SEVERITY_RANK[r["severity"]])
                if r["kind"] == "bucket":
                    expected[key] = con.sql(
                        f"SELECT count(*) FROM read_parquet('{d}/violations/bucket={r['bucket']}/*.parquet') "
                        f"WHERE severity IN ({keep})").fetchone()[0]
                elif r["kind"] == "all":
                    expected[key] = dict(con.sql(
                        f"SELECT rule_id, count(*) FROM read_parquet('{d}/violations/*/*.parquet') "
                        f"WHERE severity IN ({keep}) GROUP BY 1").fetchall())
                else:
                    expected[key] = psi
            want, got = expected[key], r["result"]
            ok = abs(want - got) <= 1e-9 if r["kind"] == "psi" else want == got
            if not ok:
                failed += 1
                msgs.append(f"report {key}: got {got}, expected {want}")
    if res.get("stream_out"):
        def stream_diff(expected, out_dir):
            out = f"read_parquet('{out_dir}/*.parquet')"
            bad = diff_rows(con, f"SELECT {VERDICT_COLS} FROM {expected}",
                            f"SELECT {VERDICT_COLS} FROM {out}")
            want = dict(con.sql(f"SELECT verdict, count(*) FROM {expected} GROUP BY 1").fetchall())
            got = dict(con.sql(f"SELECT verdict, count(*) FROM {out} GROUP BY 1").fetchall())
            return bad, want, got
        # the last query took the whole input (backlog and arrivals)
        bad, want, got = stream_diff("ev", res["stream_out"])
        if bad or want != got:
            failed += res["stream_files"]
            msgs.append(f"stream: {bad} verdict rows differ; classes {got} vs oracle {want}")
        # every earlier drain took the backlog alone
        con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
                    f"read_parquet('{input_dir}/slices/backlog/*.parquet')")
        con.execute(f"CREATE TEMP TABLE evb AS {oracle['validate_verdicts']}")
        for d in res["drain_outs"]:
            bad, want, got = stream_diff("evb", d)
            if bad or want != got:
                failed += 1
                msgs.append(f"drain {d}: {bad} verdict rows differ; classes {got} vs oracle {want}")
    return failed, msgs


# ---- metrics -----------------------------------------------------------------

def summary(xs):
    xs = [x for x in xs if x is not None]
    if len(xs) < 2:
        return {"median": xs[0] if xs else None, "q1": None, "q3": None, "n": len(xs)}
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": statistics.median(xs), "q1": q[0], "q3": q[2], "n": len(xs)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated launcher still stops its JVMs (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources (src/main/scala/graft) next to the benchmark")
    if "SPARK_HOME" not in os.environ:
        die("SPARK_HOME is not set")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    t_begin = time.perf_counter()

    w = WORKLOADS[a.workload]
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    procs = []
    try:
        con = duckdb.connect()
        inp = os.path.join(work, "input")
        jvm_args = {"workload": a.workload, "input": inp, "work": work, "seed": a.seed,
                    "seconds": a.seconds, "trace": a.trace, "buckets": w["buckets"],
                    "result": os.path.join(work, "result.json")}
        if a.workload == "stream_arrivals":
            rows, sizes = write_stream_slices(con, inp, w, a.seed, a.seconds)
            jvm_args.update(slice_rows=",".join(map(str, sizes)),
                            arrive_period_ms=w["arrive_period_ms"])
        else:
            rows = write_sf_dir(con, inp, w["rows"], a.seed, 0)
            jvm_args.update(report_queries=w["report_queries"])
        jvm_args["rows"] = rows
        con.close()

        log(f"inputs at {time.perf_counter() - t_begin:.1f}s")
        # set-up: a probe JVM plus the workload JVM's own start (the traced
        # run reports no set-up time)
        setup = []
        for k in range(0 if a.trace else 1):
            p, s = start_jvm(work, "perfbench.SetupProbe", [inp, work], f"probe{k}.log")
            procs.append(p)
            setup.append(s)
            finish(p, 60)
        log(f"probes at {time.perf_counter() - t_begin:.1f}s")
        flat = [x for kv in jvm_args.items() for x in (f"--{kv[0]}", str(kv[1]))]
        p, s = start_jvm(work, "perfbench.RunBench", flat, "bench.log")
        procs.append(p)
        setup.append(s)
        code = finish(p, DEADLINE_S - (time.perf_counter() - t_begin))
        if code != 0:
            die(f"benchmark JVM exited {code}; see bench.log:\n"
                + open(os.path.join(work, "bench.log")).read()[-3000:], 4)
        with open(os.path.join(work, "bench.log")) as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    log(f"jvm: {line[len('[perfbench] '):].rstrip()}")
        with open(jvm_args["result"]) as f:
            res = json.load(f)
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle = json.load(f)

        log(f"jvm done at {time.perf_counter() - t_begin:.1f}s")
        failed, msgs = check(res, inp, oracle)
        log(f"checked at {time.perf_counter() - t_begin:.1f}s")
        failed += len(res["failures"])
        for m in res["failures"] + msgs:
            log(f"FAILED: {m}")
        attempted = int(res["attempted"])

        # a file that was never committed has no lag; it already failed the check
        lat = [x for x in res.get("lag_ms") or [r["ms"] for r in res.get("reports", [])]
               if x is not None]
        samples = {"setup_s": setup, "docs_per_s": res.get("docs_per_s", []), "latency_ms": lat}
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "rows": rows,
                  "samples": {k: summary(v) for k, v in samples.items()},
                  "calib_s": res["calib_s"]}
        if "generator_late_ms" in res:
            detail["generator_late_ms"] = summary(res["generator_late_ms"])
            detail["drain_wall_s"] = res["drain_wall_s"]
        if a.trace:
            values = res["layers"]
            wanted = spec["per_layer"]
            os.makedirs(os.path.join(HERE, "work", "traces"), exist_ok=True)
            with open(os.path.join(HERE, "work", "traces", f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"layers": values, "spans": res["spans"]}, f)
        else:
            values = {
                "setup_s": statistics.median(setup),
                "docs_per_s": statistics.median(res["docs_per_s"]),
                "latency_p50_ms": statistics.median(lat),
                "stored_bytes_per_doc": res["stored_bytes_per_doc"],
                "peak_rss_mb": res["peak_rss_mb"],
            }
            wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
        if missing:
            die(f"metrics not measured: {missing}", 5)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.stdout.flush()
        sys.exit(0 if failed == 0 else 1)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
