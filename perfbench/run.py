#!/usr/bin/env python3
"""Benchmark of the graft engine: closed-loop workloads of engine rows.

One client sends the engine one row (a `SparkEntry.queries` entry) at a time,
on `local[N]` with N = the processor count, over the sf0.1 tables in
`perfbench/data`. Each run builds the engine from source if needed, sets up a
session four times in one process, makes one cold pass over the workload's
rows from an empty scratch root and then the warm passes, as many as
`--seconds` calls for, in an order drawn from `--seed`. The
outputs of the cold pass and of the last warm pass are hashed and compared
with hashes the DuckDB oracle produced (`perfbench/expected`). See README.md.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all          # every workload, untraced then traced
    python3 perfbench/run.py --selftest              # harness self-test at sf0.001
    python3 perfbench/run.py --make-expected         # re-derive oracle hashes

The last line of standard output is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). Everything before it is a readable
report. Per-row records go to `perfbench/results/`.
"""
import argparse
import datetime
import decimal
import fractions
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
DRIVER_MEMORY = "3g"
SETUPS = 3  # set-ups after a run's first one; setup_s is their median
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


class BenchError(Exception):
    pass


def load_json(path):
    with open(path) as f:
        return json.load(f)


# --------------------------------------------------------------------- build

def source_digest():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness (once per source tree); return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BenchError("engine sources not found next to the benchmark")
    stamp = os.path.join(HERE, "target", "perfbench-classpath.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        s = load_json(stamp)
        if s.get("digest") == digest:
            return s["classpath"]
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


# ------------------------------------------------------------------- hashing

def canon_value(v):
    """Text form of a value such that values DuckDB's Python API calls equal
    (`==`, as tools/compare.py compares them) get the same text."""
    # Numbers: an integral value prints as an integer, any other value a
    # float holds exactly prints as that float, anything else as an exact
    # fraction. So 3 == 3.0 == Decimal("3.00") and 0.5 == Decimal("0.50")
    # agree, while 0.1 and Decimal("0.1"), which differ, stay apart.
    if isinstance(v, str):
        return "S" + json.dumps(v)
    if v is None:
        return "N"
    if isinstance(v, (bool, int)):
        return "I" + str(int(v))
    if isinstance(v, float):
        if v.is_integer():
            return "I" + str(int(v))
        return "NaN" if math.isnan(v) else "F" + repr(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return "I" + str(int(v))
        if decimal.Decimal(float(v)) == v:
            return "F" + repr(float(v))
        return "Q" + str(fractions.Fraction(v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return "T" + v.isoformat()
    if isinstance(v, datetime.timedelta):
        return "D" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(canon_value(k) + ":" + canon_value(x)
                                     for k, x in v.items())) + "}"
    return "O" + str(v)


def result_hash(cols, rows):
    """Hash of a result: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def hash_parquet_dir(con, path):
    cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return result_hash([d[0] for d in cur.description], cur.fetchall())


def duckdb_with_tables(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_hashes(classpath, data_dir, rows, timeout_s=600):
    """Run each row's oracle SQL in DuckDB over `data_dir`; hash the results."""
    work = os.path.join(WORK, f"oracle-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        sql_file = os.path.join(work, "oracle_sql.json")
        java(classpath, "perfbench.OracleSql", ["--rows", ",".join(rows),
                                                "--out", sql_file], cwd=work)
        sqls = load_json(sql_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    con = duckdb_with_tables(data_dir)
    out = {}
    for r in rows:
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        t0 = time.time()
        try:
            cur = con.execute(sqls[r])
            out[r] = result_hash([d[0] for d in cur.description], cur.fetchall())
            print(f"oracle {r}: {time.time() - t0:.1f} s", file=sys.stderr)
        except Exception as e:  # a row the oracle cannot answer has no hash
            print(f"oracle {r}: FAILED {e}", file=sys.stderr)
        finally:
            timer.cancel()
    return out


# ------------------------------------------------------------------- running

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(classpath, main, args, cwd, timeout=RUN_TIMEOUT_S):
    """Run one JVM in `cwd`; its temp dir and the engine's scratch root (see
    build.sbt) are new, empty directories under `cwd`."""
    tmp, scratch = os.path.join(cwd, "tmp"), os.path.join(cwd, "scratch")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(scratch, exist_ok=True)
    jbin = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = [jbin, f"-Xmx{DRIVER_MEMORY}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.scratch={scratch}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    log_path = os.path.join(cwd, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{main} exceeded {timeout} s")
        finally:
            # also on SIGTERM or Ctrl-C: no JVM outlives the benchmark
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"{main} exited with {rc}")


def harness_run(classpath, data_dir, rows, seed, warm, trace, cores, tables,
                expected, tag):
    """One harness process; returns its document with hash checks applied."""
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    check = os.path.join(work, "check")
    try:
        java(classpath, "perfbench.Harness", [
            "--data", data_dir, "--rows", ",".join(rows), "--seed", str(seed),
            "--warm", str(warm), "--trace", "1" if trace else "0",
            "--cores", str(cores), "--out", out, "--check", check,
            "--setups", str(SETUPS), "--tables", ",".join(tables)], cwd=work)
        doc = load_json(out)
        con = duckdb_with_tables(data_dir)
        for p in doc["passes"]:
            for r in p["rows"]:
                kind = r.get("checked")
                if not kind or "error" in r:
                    continue
                got = hash_parquet_dir(con, os.path.join(check, kind, r["row"]))
                r["hash"] = got
                want = expected.get(r["row"])
                if want is None:
                    r["error"] = "no expected hash"
                elif got != want:
                    r["error"] = f"hash mismatch: got {got[:12]}, want {want[:12]}"
        return doc
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------------------------- metrics

def incbeta(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by Lentz's continued
    fraction."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - incbeta(b, a, 1.0 - x)
    front = math.exp(a * math.log(x) + b * math.log1p(-x) + math.lgamma(a + b)
                     - math.lgamma(a) - math.lgamma(b)) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > 1e-30 else 1e-30)
        c = 1.0 + num / c
        c = c if abs(c) > 1e-30 else 1e-30
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            return front * (f - 1.0)
    raise ArithmeticError("incomplete beta did not converge")


def quantile(values, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted average of
    the order statistics. The warm samples are a mix of a few rows, each
    repeated a few times, so a single order statistic jumps between rows from
    run to run; the weighted average does not."""
    s = sorted(values)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [incbeta(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


def tail(values):
    """Highest percentile with at least ten samples beyond it: (value, pct)."""
    n = len(values)
    if n < 11:
        raise BenchError(f"{n} warm samples: too few for a tail percentile")
    p = (n - 10) / n
    return quantile(values, p), 100.0 * p


def row_stats(doc):
    rows = [r for p in doc["passes"] for r in p["rows"]]
    failed = sum(1 for r in rows if "error" in r)
    return len(rows), failed


def end_to_end(doc):
    passes = doc["passes"]
    cold = [p for p in passes if p["kind"] == "cold"][0]
    warm = [p for p in passes if p["kind"] == "warm"]
    lat = [r["latency_s"] for p in warm for r in p["rows"] if "error" not in r]
    tail_s, tail_pct = tail(lat)
    attempted, failed = row_stats(doc)
    m = {
        "setup_s": (statistics.median(s["setup_s"] for s in doc["setups"]), "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "latency_p50_s": (quantile(lat, 0.5), "s"),
        "latency_tail_s": (tail_s, "s"),
        "resident_cache_mb": (doc["resident_cache_mb"], "MB"),
    }
    notes = {"latency_tail_pct": tail_pct, "warm_samples": len(lat),
             "warm_passes": len(warm), "failed_frac": failed / attempted}
    return m, notes


def pass_sum(p, key):
    return sum(r.get(key, 0) for r in p["rows"])


def per_layer(doc, cores):
    passes = doc["passes"]
    cold = [p for p in passes if p["kind"] == "cold"][0]
    warm = [p for p in passes if p["kind"] == "warm"]
    untraced = [p for p in passes if p["kind"] == "warm_untraced"]

    def wmed(key):
        return statistics.median(pass_sum(p, key) for p in warm)

    def hit_ratio(p):
        scans = pass_sum(p, "scans")
        return (scans - pass_sum(p, "fills")) / scans if scans else 1.0

    def cpu_util(p):
        return pass_sum(p, "task_cpu_s") / (pass_sum(p, "exec_s") * cores)

    batches = [b for r in cold["rows"] for b in r.get("batch_ms", [])]
    setups = doc["setups"]
    warm_s = statistics.median(p["wall_s"] for p in warm)
    untraced_s = statistics.median(p["wall_s"] for p in untraced)
    coverage = min((r["construct_s"] + r["exec_s"]) / r["wall_s"]
                   for p in warm + [cold] for r in p["rows"])
    m = {
        "Session.first_setup_s": (doc["first_setup"]["setup_s"], "s"),
        "Session.build_s": (statistics.median(s["build_s"] for s in setups), "s"),
        "Tables.load_s": (statistics.median(s["load_s"] for s in setups), "s"),
        "Tables.cached_mb": (setups[-1]["cached_mb"], "MB"),
        "Tables.partitions": (setups[-1]["partitions"], "count"),
        "SparkEntry.construct_s.cold": (pass_sum(cold, "construct_s"), "s"),
        "SparkEntry.construct_s.warm": (wmed("construct_s"), "s"),
        "SparkEntry.eager_jobs.cold": (pass_sum(cold, "eager_jobs"), "count"),
        "SparkEntry.eager_jobs.warm": (wmed("eager_jobs"), "count"),
        "SparkEntry.eager_job_s.cold": (pass_sum(cold, "eager_job_s"), "s"),
        "SparkEntry.eager_job_s.warm": (wmed("eager_job_s"), "s"),
        "plans.analysis_s": (wmed("analysis_s"), "s"),
        "plans.optimization_s": (wmed("optimization_s"), "s"),
        "plans.planning_s": (wmed("planning_s"), "s"),
        "plans.nodes": (wmed("nodes"), "count"),
        "operators.exec_s": (wmed("exec_s"), "s"),
        "operators.jobs": (wmed("jobs"), "count"),
        "operators.stages": (wmed("stages"), "count"),
        "operators.tasks": (wmed("tasks"), "count"),
        "operators.task_overhead_s": (wmed("task_overhead_s"), "s"),
        "operators.task_run_s": (wmed("task_run_s"), "s"),
        "operators.task_cpu_s": (wmed("task_cpu_s"), "s"),
        "operators.gc_s": (wmed("gc_s"), "s"),
        "operators.cpu_util": (statistics.median(cpu_util(p) for p in warm), "ratio"),
        "operators.shuffle_write_mb": (wmed("shuffle_write_mb"), "MB"),
        "operators.shuffle_read_mb": (wmed("shuffle_read_mb"), "MB"),
        "operators.spill_mb": (wmed("spill_mb"), "MB"),
        "Caches.scans.cold": (pass_sum(cold, "scans"), "count"),
        "Caches.fills.cold": (pass_sum(cold, "fills"), "count"),
        "Caches.hit_ratio.cold": (hit_ratio(cold), "ratio"),
        "Caches.scans.warm": (wmed("scans"), "count"),
        "Caches.fills.warm": (wmed("fills"), "count"),
        "Caches.hit_ratio.warm": (statistics.median(hit_ratio(p) for p in warm), "ratio"),
        "Caches.persisted_rdds": (doc["persisted_rdds"], "count"),
        "Caches.drain_left": (doc["drain_left"], "count"),
        "sources.output_mb.cold": (pass_sum(cold, "output_mb"), "MB"),
        "sources.output_records.cold": (pass_sum(cold, "output_records"), "count"),
        "sources.staged_mb": (doc["staged_mb"], "MB"),
        "streaming.batches.cold": (len(batches), "count"),
        "streaming.batch_p50_ms.cold": (statistics.median(batches) if batches else 0.0, "ms"),
        "streaming.addbatch_s.cold": (pass_sum(cold, "addbatch_s"), "s"),
        "streaming.state_commit_s.cold": (pass_sum(cold, "state_commit_s"), "s"),
        "streaming.state_rows.cold": (pass_sum(cold, "state_rows"), "count"),
        "streaming.state_partitions.cold":
            (max((r.get("state_partitions", 0) for r in cold["rows"]), default=0), "count"),
        "trace.warm_pass_s": (warm_s, "s"),
        "trace.untraced_warm_pass_s": (untraced_s, "s"),
        "trace.overhead_s": (warm_s - untraced_s, "s"),
        "trace.span_coverage_min": (coverage, "ratio"),
    }
    return m


# ------------------------------------------------------------------- reports

def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (t[7] if len(t) > 7 else 0), sum(t)


def env_stamp(doc, data_dir, ticks0):
    e = dict(doc["env"])
    # share of the machine's CPU time taken by its host during the run: a
    # run that lost much of it to other tenants reads slow on every metric
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        e["cpu_steal_frac"] = round((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 4)
    e["data"] = os.path.relpath(data_dir, ROOT)
    try:
        e["commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        e["commit"] = None
    if not e["commit"]:
        e["source_digest"] = source_digest()[:16]
    return e


def print_metrics(title, metrics):
    print(f"== {title}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:40s} {value:>14.6f} {unit}")


def warm_passes(seconds, cfg):
    """Warm passes in a run: `default_warm_passes` at `default_seconds`,
    scaled with `seconds`, at least two. The count depends only on
    `seconds`, so every run with the same setting takes the same number of
    samples and reads its tail at the same percentile."""
    return max(2, round(cfg["default_warm_passes"] * seconds / cfg["default_seconds"]))


def run_workload(classpath, cfg, name, seed, seconds, trace, cores):
    w = cfg["workloads"][name]
    data_dir = os.path.join(HERE, cfg["data"])
    expected = load_json(os.path.join(HERE, cfg["expected"]))
    ticks0 = cpu_ticks()
    doc = harness_run(classpath, data_dir, w["rows"], seed,
                      warm_passes(seconds, cfg), trace, cores, w["tables"], expected,
                      f"{name}-s{seed}-t{int(trace)}")
    doc["env"] = env_stamp(doc, data_dir, ticks0)
    attempted, failed = row_stats(doc)
    if trace:
        metrics = per_layer(doc, cores)
        notes = {}
    else:
        metrics, notes = end_to_end(doc)
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(doc, f, indent=1)
    print(f"workload {name}: {len(w['rows'])} rows, seed {seed}, "
          f"{'traced' if trace else 'untraced'}")
    print("env " + json.dumps(doc["env"], sort_keys=True))
    for p in doc["passes"]:
        errs = [f"{r['row']}: {r['error']}" for r in p["rows"] if "error" in r]
        for e in errs:
            print(f"  FAILED pass {p['pass']} {e}")
    print_metrics(name, metrics)
    if notes:
        print(f"  failed_frac {notes['failed_frac']:.6f} ({failed}/{attempted} row executions)")
        print(f"  latency_tail_s is p{notes['latency_tail_pct']:.1f} of "
              f"{notes['warm_samples']} warm samples ({notes['warm_passes']} warm passes)")
    return attempted, failed, metrics


def result_line(attempted, failed, metrics):
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=nproc())
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-expected", action="store_true")
    a = ap.parse_args(argv)
    if a.cores > nproc():
        raise BenchError(f"--cores {a.cores} exceeds the {nproc()} processors here")
    cfg = load_json(os.path.join(HERE, "workloads.json"))
    seed = cfg["default_seed"] if a.seed is None else a.seed
    seconds = cfg["default_seconds"] if a.seconds is None else a.seconds
    names = list(cfg["workloads"]) if a.workload == "all" else [a.workload]
    if not (a.selftest or a.make_expected) and \
            (None in names or any(n not in cfg["workloads"] for n in names)):
        raise BenchError(f"--workload must be one of {sorted(cfg['workloads'])} or all")
    classpath = build()
    if a.selftest:
        import selftest
        return selftest.main(sys.modules[__name__], classpath, cfg)
    if a.make_expected:
        rows = [r for w in cfg["workloads"].values() for r in w["rows"]]
        hashes = oracle_hashes(classpath, os.path.join(HERE, cfg["data"]), rows)
        with open(os.path.join(HERE, cfg["expected"]), "w") as f:
            json.dump(dict(sorted(hashes.items())), f, indent=1)
            f.write("\n")
        return 0 if len(hashes) == len(rows) else 1
    traces = [0, 1] if a.workload == "all" else [a.trace]
    total_a = total_f = 0
    combined = {}
    for n in names:
        for t in traces:
            at, fa, m = run_workload(classpath, cfg, n, seed, seconds, t, a.cores)
            total_a += at
            total_f += fa
            combined.update({(k if len(names) == 1 else f"{n}.{k}"): v
                             for k, v in m.items()})
    print(result_line(total_a, total_f, combined))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
