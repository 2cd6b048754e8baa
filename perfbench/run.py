#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the JVM harness
from source on first use (sbt, output under .bench_build/), makes the
workload's inputs from the seed, runs the harness on local[4], checks
every output and prints one JSON result line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones (and writes the span file named on the detail line).
Exits non-zero when any output check fails.

Workloads:
  query_mix         the median query of each wall-time stratum of the
                    oracle-checked registry queries at sf0.1, passes in
                    seed order, one client, closed loop
  cdc_backlog       seeded Debezium backlog drained by `--mode cdc`
                    into a stub ClickHouse, closed loop
  synthetic_stream  `--mode synthetic` at a fixed offered rate into the
                    stub, open loop

Maintenance: `run.py --calibrate` times every oracle query on the host it
runs on and rewrites query_pool.json (the strata the sample is taken from);
`run.py --saturate R1,R2,...` runs `--mode synthetic` at each offered
rate and writes saturation.json (the measurement SYNTHETIC_RATE is set
from).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TABLES_SEED = 42
ORACLE_TOOL = os.path.join(ROOT, "tools", "check_oracle.py")
# offered rate of synthetic_stream, rows/s: about a quarter of the saturation rate
# of local[4] recorded in saturation.json (204k rows/s)
SYNTHETIC_RATE = 50000
# cdc_backlog backlog: files x lines, drained 16 files per micro-batch. An
# odd number of batches puts the median row inside a batch, not on the
# boundary between two, where the seed's row count would flip it.
CDC_FILES, CDC_LINES = 80, 1200
JVM_TIMEOUT_S = 165
# ParallelGC with a fixed young generation keeps the heap footprint (and so
# peak RSS) repeatable
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx3g", "-Xmn1g", "-XX:MetaspaceSize=256m"]
# query_pool.json: the sample draws one query per stratum from the oracle
# queries whose calibrated wall and oracle check (one check_oracle.py
# process, start-up included) fit these caps
POOL_STRATA, POOL_WALL_CAP_MS, POOL_ORACLE_CAP_S = 6, 1000.0, 3.0
# per-layer metrics a workload does not exercise; they read 0. Any other
# per-layer metric the harness does not report fails the run.
UNUSED_LAYERS = {
    "query_mix": ["pipeline.translate_us_per_row", "pipeline.parse_exprs",
                  "pipeline.serialize_us_per_row", "stream.batches", "stream.rows_per_batch",
                  "stream.latest_offset_ms", "stream.get_batch_ms", "stream.query_planning_ms",
                  "stream.add_batch_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
                  "stream.backlog_rows_max", "sink.posts", "sink.rows_per_post",
                  "sink.bytes_per_row", "sink.post_ms", "sink.post_errors",
                  "baseline.local1_rows_per_s"],
    "cdc_backlog": ["tables.loads_per_query", "queries.thunk_ms", "queries.thunk_jobs"],
    "synthetic_stream": ["tables.loads_per_query", "queries.thunk_ms", "queries.thunk_jobs",
                         "pipeline.translate_us_per_row", "baseline.local1_rows_per_s"],
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source digest; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got["digest"] == digest:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.server.autostart=false", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log("building program and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def tables_dir():
    """The query_mix tables, generated once per generator version."""
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(BUILD, f"tables-{TABLES_SEED}-{tag}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), d,
                        str(TABLES_SEED)], check=True)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def query_sample():
    """The median-wall query of each stratum of query_pool.json."""
    with open(os.path.join(HERE, "query_pool.json")) as fh:
        pool = json.load(fh)
    walls = pool["calibration_wall_ms"]
    return [sorted(st, key=walls.get)[len(st) // 2] for st in pool["strata"]]


def oracle_check(tables, results, timeout=None):
    """Runs tools/check_oracle.py over a results dir (`<name>/` parquet
    plus oracle_sql.json) and returns {query: its [PASS]/[FAIL] line}. A
    check still running after `timeout` seconds is killed; it then
    reports no line."""
    try:
        p = subprocess.run([sys.executable, ORACLE_TOOL, tables, results], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return {}
    out = {}
    for line in p.stdout.splitlines():
        if line.startswith(("[PASS] ", "[FAIL] ")):
            out[line[7:].split(":", 1)[0]] = line
    return out


def run_jvm(cp, work, args, timeout):
    out = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work, "--out", out] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {timeout}s; log: {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks():
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(t) for t in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def calibrate(cp):
    """Times every oracle query once (after a parquet-writing warm pass),
    then checks them and writes query_pool.json."""
    work = os.path.join(BUILD, "calibrate")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, work, ["--workload", "query_mix", "--seed", "0", "--seconds", "0",
                             "--trace", "0", "--tables", tables_dir(), "--queries", "ALL"], None)
    check_pool(res, work)


def check_pool(res, work):
    """Checks every calibrated query with check_oracle.py, one process per
    query so a check over the cap can be stopped, and writes
    query_pool.json: the queries whose wall and oracle check fit the
    caps, split by wall alone into strata of equal count. A query that
    fails its oracle stays in the pool, so a sample that draws it fails;
    one that errored in Spark has no wall and is listed apart."""
    d = res["detail"]
    with open(os.path.join(d["results_dir"], "oracle_sql.json")) as fh:
        oracle_sql = json.load(fh)
    walls = d["query_median_ms"]
    checks, oracle_s = {}, {}
    for name in sorted(walls):
        one = os.path.join(work, "one")
        shutil.rmtree(one, ignore_errors=True)
        os.makedirs(one)
        os.symlink(os.path.join(d["results_dir"], name), os.path.join(one, name))
        with open(os.path.join(one, "oracle_sql.json"), "w") as fh:
            json.dump({name: oracle_sql[name]}, fh)
        t0 = time.time()
        checks[name] = oracle_check(d["tables"], one, POOL_ORACLE_CAP_S).get(name, "[TIMEOUT]")
        oracle_s[name] = time.time() - t0
    over = {n: f"wall {w:.0f} ms" for n, w in walls.items() if w > POOL_WALL_CAP_MS}
    over.update({n: f"oracle check {oracle_s[n]:.1f} s" for n in oracle_s
                 if n not in over and oracle_s[n] > POOL_ORACLE_CAP_S})
    keep = sorted((w, n) for n, w in walls.items() if n not in over)
    size = len(keep) / POOL_STRATA
    strata = [[n for _, n in keep[int(i * size):int((i + 1) * size)]] for i in range(POOL_STRATA)]
    failing = {n: c for n, c in checks.items() if c.startswith("[FAIL]")}
    pool = {"wall_cap_ms": POOL_WALL_CAP_MS, "oracle_cap_s": POOL_ORACLE_CAP_S, "strata": strata,
            "calibration_wall_ms": {n: round(w, 1) for n, w in walls.items()},
            "oracle_check_s": {n: round(t, 2) for n, t in oracle_s.items()},
            "failing": failing, "failing_in_pool": sorted(n for n in failing if n not in over),
            "excluded_over_cap": over, "excluded_no_wall": res["errors"]}
    with open(os.path.join(HERE, "query_pool.json"), "w") as fh:
        json.dump(pool, fh, indent=1, sort_keys=True)
    log(f"{len(keep)} queries in {POOL_STRATA} strata, {len(pool['failing_in_pool'])} of them "
        f"failing; {len(failing)} failing in all; {len(over)} over a cap; "
        f"{len(res['errors'])} errored")


def saturate(cp, rates):
    """Runs synthetic_stream once per offered rate and records delivered
    rows/s and freshness in saturation.json, with the saturation rate: the
    most any run delivered, which is the capacity once a rate overloads
    the stream."""
    points = []
    for rate in rates:
        work = os.path.join(BUILD, "saturate", str(rate))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        t0, load0 = time.time(), loadavg()
        res = run_jvm(cp, work, ["--workload", "synthetic_stream", "--seed", "0", "--seconds", "8",
                                 "--trace", "0", "--rate", str(rate)], JVM_TIMEOUT_S)
        d = res["detail"]
        points.append({"offered_rows_per_s": rate, "delivered_rows_per_s": d["ingest_rows_per_s"],
                       "freshness_p50_ms": d["freshness_p50_ms"],
                       "freshness_p99_ms": d["freshness_p99_ms"], "failed": res["failed"],
                       "loadavg_start_end": [load0, loadavg()], "wall_s": time.time() - t0})
        log(json.dumps(points[-1]))
        shutil.rmtree(work, ignore_errors=True)
    # offered past capacity, the stream delivers what local[4] sustains
    top = max(p["delivered_rows_per_s"] for p in points)
    with open(os.path.join(HERE, "saturation.json"), "w") as fh:
        json.dump({"seconds": 8, "jvm_opts": JVM_OPTS, "saturation_rows_per_s": top,
                   "points": points}, fh, indent=1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--calibrate", action="store_true")
    ap.add_argument("--saturate", help="comma-separated offered rates, rows/s")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")) or not os.path.exists(ORACLE_TOOL):
        fail(f"program sources or {ORACLE_TOOL} not found; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not (a.calibrate or a.saturate) and a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    cp = build()
    if a.calibrate:
        return calibrate(cp)
    if a.saturate:
        return saturate(cp, [int(r) for r in a.saturate.split(",")])

    t_start = time.time()
    load0, ticks0 = loadavg(), cpu_ticks()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "query_mix":
        tables = tables_dir()
        args += ["--tables", tables, "--queries", ",".join(query_sample())]
    elif a.workload == "cdc_backlog":
        cdc = os.path.join(work, "cdc")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_cdc.py"), cdc, str(a.seed),
                        str(CDC_FILES), str(CDC_LINES), "main"], check=True)
        args += ["--cdc", cdc]
    else:
        args += ["--rate", str(SYNTHETIC_RATE)]
    res = run_jvm(cp, work, args, JVM_TIMEOUT_S - (time.time() - t_start) - 10)

    attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
    if a.workload == "query_mix":
        d = res["detail"]
        checks = oracle_check(d["tables"], d["results_dir"])
        bad = [checks.get(n, f"[FAIL] {n}: no oracle result") for n in d["sample"]]
        bad = [c for c in bad if not c.startswith("[PASS]")]
        failed += len(bad)
        errors += bad
    source = dict(res["layers"]) if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.trace:
        for name in UNUSED_LAYERS[a.workload]:
            if name in source:
                errors.append(f"metric {name} is measured but listed as unused")
                failed += 1
            source[name] = 0.0
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)) or v != v or v in (float("inf"), float("-inf")):
            errors.append(f"metric {m['name']} not measured (got {v!r})")
            failed += 1
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for e in errors:
        log(f"CHECK FAILED: {e}")
    # keep the result, log and span file; drop inputs and Spark scratch
    for sub in ("cdc", "results", "checkpoints", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    correct = failed == 0 and attempted >= 1
    # share of CPU time the hypervisor gave to other guests during the run
    ticks1 = cpu_ticks()
    steal_pct = 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(json.dumps({"detail": res["detail"], "self_ms": res.get("self_ms"),
                      "trace_file": res.get("trace_file"), "loadavg": [load0, loadavg()],
                      "steal_pct": round(steal_pct, 2),
                      "workload": a.workload, "seed": a.seed, "wall_s": time.time() - t_start}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
