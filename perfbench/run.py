#!/usr/bin/env python3
"""graft's benchmark: full-evaluation query latency and throughput.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run in a checkout builds the engine
and the harness with sbt and generates the parquet fixtures; later runs
reuse both (everything lands in `.perfbench/`).

One run is one JVM over `GraftSession.local(nproc)`:
  1. set-up, repeated `SETUPS` times (fresh session, catalog registration,
     one warm-up pass of every workload query); `setup_s` is the median;
  2. every workload query's result is collected for the oracle check;
  3. closed-loop clients run their queries, each fully evaluated through the
     `noop` sink, in seeded order for `--seconds`.
Then each result is compared with DuckDB running the entry's oracle SQL over
the same fixture. A mismatch or an exception is a failed execution.

With `--trace 1` half the window runs untraced and half traced (job group
per execution, a SparkListener, the planning trackers and the post-AQE
SQLMetrics); the last line then carries the per-layer metrics instead of the
end-to-end ones. The seed sets the query order of every pass and so how the
two clients of `mixed_2clients` interleave; the fixtures are fixed.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. Lines before it print every metric with its unit and sample count.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402

SETUPS = 3
DATA_SEED = 42
# fixture name -> (scale factor, part files per large table, documents)
FIXTURES = {"olap": (0.02, 4, None), "small": (0.001, 1, None), "ops": (0.01, 4, 200)}
# the workloads BENCHMARK.json lists; the others run on demand (the time
# limit for all runs fits two workloads with windows long enough to be steady)
WORKLOADS = ["olap_sf1", "llm_ops"]
EXTRA_WORKLOADS = ["dialect_small", "mixed_2clients"]
END_TO_END = {
    "setup_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "geomean_query_s": "s", "queries_per_s": "1/s", "peak_rss_mb": "MB",
}
# latency of the short-query client, reported where there are two clients
SHORT_QUERY = {"short_query_p50_s": "s", "short_query_p90_s": "s"}
PER_LAYER = [
    "engine.build_s", "engine.build_share",
    "analysis.time_s", "optimizer.time_s", "optimizer.graft_rules_s",
    "optimizer.graft_rules_invocations", "optimizer.graft_rules_effective",
    "optimizer.graft_rules_effective_ratio", "planning.time_s", "aqe.query_stages",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.task_wait_s", "exec.gc_s", "exec.core_util",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.peak_task_mem_mb",
    "scan.bytes_read_mb", "scan.rows_read", "op.scan_time_s", "op.join_build_s",
    "op.agg_time_s", "op.sort_time_s", "op.shuffle_write_time_s",
    "expr.codegen_fallback", "expr.non_wscg_ops", "codegen.compiles", "codegen.compile_s",
    "jvm.driver_gc_s", "exec.count_full_ratio", "ref.duckdb_ratio", "trace.overhead_s",
    "self.query_s", "self.build_s", "self.analysis_s",
    "self.optimization_s", "self.planning_s", "self.execute_s", "self.job_s", "self.stage_s",
]
PER_LAYER_UNITS = {"_s": "s", "_mb": "MB", "share": "ratio", "ratio": "ratio",
                   "util": "ratio"}
RUN_DEADLINE_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def per_layer_unit(name):
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------------ build

def source_digest():
    """Digest of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile engine and harness once per source state; return classpath."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: engine sources not found ({need}); "
                             "run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stored, cp = f.read().split("\n", 1)
        if stored == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("perfbench: building engine and harness with sbt")
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def fixture(name):
    scale, files, docs = FIXTURES[name]
    d = os.path.join(WORK, "fixtures", f"{name}-sf{scale}-f{files}-d{docs}-s{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        log(f"perfbench: generating fixture {name} (sf{scale}, {files} files)")
        gen.generate(d, scale, files, DATA_SEED, docs)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ------------------------------------------------------------------ JVM

JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, args, out_dir, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap keeps the resident set from following how
    # much of the heap G1 happened to use
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.system.home={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(out_dir, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: JVM run exceeded its deadline")
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            tail = f.read().splitlines()[-25:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: JVM exited with {rc}")


# ------------------------------------------------------------------ oracle

def duck(dir_):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        p = os.path.join(dir_, f"{t}.parquet")
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src})")
    return con


def canon(v):
    """One canonical text per value, shared by both engines' results:
    decimals as doubles (as graft.Verify.normalize does), timestamps and
    dates as UTC text with a midnight time dropped, structs and maps by
    their entries."""
    import datetime
    import decimal
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = v.isoformat(" ")
        return s[:-9] if s.endswith(" 00:00:00") else s
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        return f"interval:{v.days}:{v.seconds}:{v.microseconds}"
    if isinstance(v, dict):
        if "$ts" in v and len(v) == 1:
            epoch = datetime.datetime(1970, 1, 1)
            return canon(epoch + datetime.timedelta(microseconds=v["$ts"]))
        if "$d" in v and len(v) == 1:
            return canon(datetime.date(1970, 1, 1) + datetime.timedelta(days=v["$d"]))
        if "$dec" in v and len(v) == 1:
            return repr(float(v["$dec"]))
        if "$bin" in v and len(v) == 1:
            return "0x" + v["$bin"]
        if "$map" in v and len(v) == 1:
            return "map{" + ",".join(sorted(f"{canon(k)}:{canon(x)}" for k, x in v["$map"])) + "}"
        if "$struct" in v and len(v) == 1:
            return "{" + ",".join(canon(x) for _, x in v["$struct"]) + "}"
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            return "map{" + ",".join(sorted(f"{canon(k)}:{canon(x)}"
                                            for k, x in zip(v["key"], v["value"]))) + "}"
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def table_canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted("\t".join(canon(r[i]) for i in order) for r in rows)
    cols = [columns[i] for i in order]
    digest = hashlib.sha1(("\t".join(cols) + "\n" + "\n".join(body)).encode()).hexdigest()
    return cols, body, digest


def oracle_result(con, cache_dir, dir_, sql):
    key = hashlib.sha1((dir_ + "\n" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    cols, body, digest = table_canon(cols, cur.fetchall())
    res = {"columns": cols, "rows": body, "digest": digest}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def check_results(results_path):
    """Compare every workload query's result with DuckDB's; return
    {name: failure message} for mismatches and errors."""
    cons, bad = {}, {}
    cache_dir = os.path.join(WORK, "oracle")
    with open(results_path) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    for r in recs:
        name = r["name"]
        if r.get("error"):
            bad[name] = "graft: " + r["error"]
            continue
        if not r.get("oracle"):
            bad[name] = "no oracle SQL"
            continue
        con = cons.get(r["dir"]) or cons.setdefault(r["dir"], duck(r["dir"]))
        try:
            want = oracle_result(con, cache_dir, r["dir"], r["oracle"])
        except Exception as e:  # noqa: BLE001 - report any oracle failure by name
            bad[name] = f"oracle: {type(e).__name__}: {str(e).splitlines()[0][:200]}"
            continue
        cols, body, digest = table_canon(r["columns"], r["rows"])
        if digest == want["digest"]:
            continue
        if cols != want["columns"]:
            bad[name] = f"columns {cols} vs oracle {want['columns']}"
        elif len(body) != len(want["rows"]):
            bad[name] = f"{len(body)} rows vs oracle {len(want['rows'])}"
        else:
            i = next(i for i, (a, b) in enumerate(zip(body, want["rows"])) if a != b)
            bad[name] = f"row {i}: graft {body[i][:160]!r} vs oracle {want['rows'][i][:160]!r}"
    return bad, cons, recs


def duckdb_ratio(cons, recs, per_query):
    """Geometric mean over queries of graft's median time over DuckDB's
    median of three timed runs (after one warm-up) of the oracle SQL."""
    ratios = []
    for r in recs:
        if r.get("error") or not r.get("oracle") or r["name"] not in per_query:
            continue
        con = cons.get(r["dir"]) or cons.setdefault(r["dir"], duck(r["dir"]))
        try:
            con.execute(r["oracle"]).fetchall()
            ts = []
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(r["oracle"]).fetchall()
                ts.append(time.perf_counter() - t0)
        except Exception:  # noqa: BLE001 - failures are already reported by the check
            continue
        ratios.append(per_query[r["name"]] / max(statistics.median(ts), 1e-6))
    return math.exp(sum(map(math.log, ratios)) / len(ratios)) if ratios else float("nan")


# ------------------------------------------------------------------ run

def git_commit():
    """HEAD of the checkout, or "unknown" when ROOT is not a git work tree."""
    try:
        top, head = (subprocess.run(["git", "rev-parse", *args], cwd=ROOT, text=True,
                                    capture_output=True, timeout=10).stdout.strip()
                     for args in (["--show-toplevel"], ["HEAD"]))
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return head if top and os.path.samefile(top, ROOT) and head else "unknown"


def mem_available():
    try:
        with open("/proc/meminfo") as f:
            return next(l.split(":")[1].strip() for l in f if l.startswith("MemAvailable"))
    except (OSError, StopIteration):
        return "unknown"


def run_once(workload, seed, seconds, trace, fixtures, setups=SETUPS):
    """One JVM run; returns (measure, box, failures, out_dir)."""
    deadline = time.time() + RUN_DEADLINE_S
    cp = build()
    dirs = {k: fixture(v) for k, v in fixtures.items()}
    out = os.path.join(WORK, "runs", f"{workload}-t{trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_jvm(cp, {"workload": workload, "seed": seed,
                 "seconds": seconds, "trace": trace, "setups": setups,
                 "cpus": os.cpu_count(), "out": out, **dirs}, out, deadline)
    with open(os.path.join(out, "measure.json")) as f:
        measure = json.load(f)
    with open(os.path.join(out, "box.json")) as f:
        box = json.load(f)
    bad, cons, recs = check_results(os.path.join(out, "results.jsonl"))
    failures = {}
    for name, msg in measure["failures"]:
        failures.setdefault(name, msg)
    failures.update(bad)
    if trace:
        measure["per_layer"]["ref.duckdb_ratio"] = duckdb_ratio(
            cons, recs, measure["per_query_s"])
    for c in cons.values():
        c.close()
    measure["failed"] = len(measure["failures"]) + len(bad)
    return measure, box, failures, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main())
    if not a.workload:
        ap.error("--workload is required")
    box = {"commit": git_commit(), "mem_available": mem_available()}
    measure, jvm_box, failures, _ = run_once(a.workload, a.seed, a.seconds, a.trace,
                                             {k: k for k in FIXTURES})
    box.update(jvm_box)
    print(f"# box: {json.dumps(box, sort_keys=True)}")
    for name, msg in sorted(failures.items()):
        print(f"# FAIL {name}: {msg}")
    print(f"# error_rate = {measure['failed'] / max(1, measure['attempted']):.6f} "
          f"(failed {measure['failed']} of {measure['attempted']} executions)")
    metrics = {}
    values = measure["per_layer"] if a.trace else measure["end_to_end"]
    missing = [n for n in (PER_LAYER if a.trace else END_TO_END)
               if not isinstance(values.get(n), (int, float)) or math.isnan(values[n])]
    if missing:
        raise SystemExit(f"perfbench: no value for {', '.join(missing)} "
                         "(did every execution fail?)")
    if a.trace:
        for name, v in sorted(measure["per_layer"].items()):
            if name in PER_LAYER:
                metrics[name] = {"value": v, "unit": per_layer_unit(name)}
            print(f"# {name} = {v:.6g} {per_layer_unit(name)} "
                  f"(traced executions: {measure['traced_execs']})")
    else:
        shown = dict(END_TO_END, **(SHORT_QUERY if a.workload == "mixed_2clients" else {}))
        for name, unit in shown.items():
            v = measure["end_to_end"][name]
            metrics[name] = {"value": v, "unit": unit}
            print(f"# {name} = {v:.6g} {unit} (samples: {measure['samples'][name]})")
    print(json.dumps({"correct": measure["failed"] == 0,
                      "attempted": measure["attempted"],
                      "failed": measure["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
