#!/usr/bin/env python3
"""Two-workload benchmark of the crypto ETL / BI / curation engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (cached under perfbench/.build, keyed on the sources).
Each run generates its inputs from the seed, starts one JVM that drives the
engine through its public modules, checks every result against an
independent oracle, and prints one JSON object as its last line. See
perfbench/README.md for the workloads, metrics and modes.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402

DEADLINE_S = 175          # a run (after the build) must end within this
JVM_HEAP = "3g"
JVM_YOUNG = "512m"   # fixed young generation: peak RSS then tracks retained memory
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

WORKLOADS = {
    "bi_dashboard": (
        "3 JDBC clients, closed loop, cycling an 8-query dashboard over the Thrift "
        "endpoint, beside three writer batches of the hourly pipeline (pivot -> upsert -> "
        "gate -> rollup) per measured window: planning, scans and serving do the work, "
        "and reads and writes contend",
        f"lineitem {inputs.N_LINES}, orders {inputs.N_ORDERS}, events {inputs.N_EVENTS}, "
        f"crypto_prices {inputs.BACKFILL_HOURS} hours x {inputs.COINS} coins, "
        f"payloads of {inputs.COINS} coins x 2 currencies"),
    "curation_batch": (
        "one curation job repeated back to back (exact dedup, MinHash pairs + clusters, "
        "SimHash, decontamination, PII redaction, cosine LSH), caches released between "
        "jobs: the shuffle- and CPU-heavy operators layer",
        f"{inputs.N_DOCS} documents, {inputs.N_HOLDOUT} holdout documents, "
        f"{inputs.N_VECS} x {inputs.DIM} embeddings ({inputs.N_VEC_PAIRS} planted near pairs)"),
}

def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---------------------------------------------------------------- build
def sources_digest(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home(env):
    """The Spark installation to build against: SPARK_HOME, else the parent of
    a `bin/spark-submit` on PATH, whichever has Spark's jars."""
    homes = [env["SPARK_HOME"]] if env.get("SPARK_HOME") else []
    homes += [os.path.dirname(os.path.realpath(d)) for d in env.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("no Spark installation with jars found: set SPARK_HOME")


def build(root):
    """Compile engine + harness once per source state; returns the classpath."""
    out = os.path.join(HERE, ".build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = sources_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    env["SPARK_HOME"] = spark_home(env)  # build.sbt takes Spark's jars from here
    tmp = os.path.join(out, "tmp")  # keep sbt's scratch files inside the checkout
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "perfbench" in ln and "classes" in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1].strip()


# ---------------------------------------------------------------- inputs
def make_inputs(workload, seed, data):
    os.makedirs(data)
    expect = {}
    if workload == "bi_dashboard":
        inputs.write_backfill(seed, os.path.join(data, "backfill"))
        inputs.write_dashboard_tables(seed, data)
        inputs.write_corpus(seed, data)
        inputs.write_feed(seed, data)
        with open(os.path.join(HERE, "dashboard.json")) as f:
            queries = inputs.dashboard_sql(json.load(f))
        with open(os.path.join(data, "dashboard.json"), "w") as f:
            json.dump(queries, f)
        expect["digests"] = inputs.dashboard_digests(data, queries)
    else:
        docs, holdout, vecs = inputs.write_corpus(seed, data)
        expect = inputs.curation_expected(docs, holdout, vecs)
    return expect


# ---------------------------------------------------------------- oracle checks
def check(workload, seed, res, expect):
    """Compare the engine's outputs with the oracle: (checks, failures)."""
    fails, n = [], 0
    o = res["oracle"]
    if workload == "bi_dashboard":
        for q, d in expect["digests"].items():
            n += 1
            got = o["digests"].get(q)
            if got != d:
                fails.append(f"{q}: engine digest {got} != DuckDB digest {d}")
        import duckdb
        hours = set(range(inputs.BACKFILL_HOURS)) | set(o["hours"])
        want = inputs.expected_price_rows(seed, hours)
        con = duckdb.connect()
        rows, keys = con.execute(
            "SELECT count(*), count(DISTINCT (crypto_id, extracted_at)) FROM "
            f"read_parquet('{o['table']}/*.parquet')").fetchone()
        latest = max((d for d in os.listdir(o["rollup"]) if d.startswith("v_")),
                     key=lambda d: int(d[2:]))
        r_rows, r_obs = con.execute(
            "SELECT count(*), sum(n_obs) FROM "
            f"read_parquet('{o['rollup']}/{latest}/*.parquet')").fetchone()
        con.close()
        for ok, what in [(rows == want, f"table rows {rows} != distinct keys offered {want}"),
                         (keys == rows, f"{rows - keys} duplicate keys in the table"),
                         (r_rows == rows, f"rollup groups {r_rows} != table rows {rows}"),
                         (r_obs == rows, f"rollup n_obs {r_obs} != table rows {rows}")]:
            n += 1
            if not ok:
                fails.append(what)
    else:
        for i, job in enumerate(o["jobs"]):
            bad = {k: (job.get(k), v) for k, v in expect.items() if job.get(k) != v}
            if bad:
                fails.append(f"curation job {i}: (engine, oracle) mismatch {bad}")
    return n, fails


# ---------------------------------------------------------------- host
def cpu_times():
    """The host's aggregate CPU times (/proc/stat), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0, t1):
    """Share of CPU time taken by other guests on a virtual machine between
    two readings: a run that lost much of it is contended, whatever its
    load average says."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else 0.0


# ---------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, "
             "src/main/scala/graft) are not here")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath = build(root)

    t_start = time.time()
    why, sizes = WORKLOADS[a.workload]
    log(f"workload {a.workload}: {why}")
    log(f"inputs (seed {a.seed}): {sizes}")
    log(f"host: nproc={os.cpu_count()} loadavg={open('/proc/loadavg').read().strip()}")
    cpu0 = cpu_times()
    work = os.path.join(HERE, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    outdir = os.path.join(HERE, "out")
    os.makedirs(outdir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        expect = make_inputs(a.workload, a.seed, data)
        os.makedirs(os.path.join(work, "tmp"))
        res_file = os.path.join(work, "result.json")
        spans = os.path.join(outdir, f"{a.workload}-seed{a.seed}-spans.jsonl")
        cores = min(4, os.cpu_count() or 1)
        cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-XX:+UseG1GC",
               *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
               "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
               "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--data", data, "--work", work,
               "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
               "--dashboard", os.path.join(data, "dashboard.json"),
               "--out", res_file, "--spans", spans]
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"engine run exceeded {DEADLINE_S}s")
        if proc.returncode != 0 or not os.path.exists(res_file):
            with open(jvm_log) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(f"engine run exited with code {proc.returncode}")
        with open(res_file) as f:
            res = json.load(f)
        n_checks, oracle_fails = check(a.workload, a.seed, res, expect)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = res["failures"] + oracle_fails
    attempted = int(res["attempted"]) + n_checks
    # the end-to-end figures come from untraced operations only
    ops = [ms for ms, t in zip(res["op_ms"], res["traced_op"]) if not t]
    if not ops:
        fail("no operation completed in the measured window")
    metrics = {
        "setup_s": statistics.median(res["setup_s"]),
        "op_p50_ms": statistics.median(ops),
        # closed loop with no think time: throughput = clients / mean latency
        "ops_per_s": res["clients"] * 1000.0 / statistics.mean(ops),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    log(f"set-up rounds (s): {[round(x, 3) for x in res['setup_s']]}; JVM session start "
        f"{res['session_s']:.2f}s; warm-up {res['warmup_s']:.2f}s")
    log(f"{'traced' if a.trace else 'measured'} window {res['window_s']:.2f}s; "
        f"{len(ops)} untraced operations")
    for m in bench["end_to_end"]:
        log(f"{m['name']} = {metrics[m['name']]:.4f} {m['unit']}" +
            (f" (n={len(ops)})" if m["name"] == "op_p50_ms" else ""))
    for k, v in res["extra"].items():
        if not isinstance(v, dict):
            log(f"{k} = {v}")
    log(f"failed_ratio = {len(failures) / attempted:.4f} ({len(failures)}/{attempted})")
    for f_ in failures[:20]:
        log(f"FAILED: {f_}")
    steal = steal_share(cpu0, cpu_times())
    log(f"loadavg at end: {open('/proc/loadavg').read().strip()}; "
        f"CPU steal over the run {steal:.3f}")

    if a.trace:
        layers = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                              "unit": m["unit"]} for m in bench["per_layer"]}
        for name, m in layers.items():
            log(f"{name} = {m['value']:.4f} {m['unit']}")
        log(f"spans written to {os.path.relpath(spans, root)}")
        out_metrics = layers
    else:
        out_metrics = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
    report = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": out_metrics}
    with open(os.path.join(outdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({**report, "failures": failures, "raw": res,
                   "loadavg": open("/proc/loadavg").read().strip(), "steal": steal,
                   "nproc": os.cpu_count()}, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
