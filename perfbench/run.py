#!/usr/bin/env python3
"""Pipeline benchmark: medallion_batches and query_mix.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selfcheck

One process runs one workload as a closed loop with a single client, in
one Spark session at local[nproc]. The harness builds the program from
source (perfbench/build.sbt compiles ../src/main/scala together with the
driver in perfbench/src), generates the seeded inputs, runs the JVM
driver, checks every output with the clock stopped, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Any failed check makes the exit code non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("medallion_batches", "query_mix")
QUERY_FAMILIES = {
    "relational": ["q05_dedup_latest", "q06_scd3_prev", "q09_anti_join",
                   "q23_tpch_pricing", "q80_topk_per_key", "q93_asof_native"],
    "text": ["q33_fingerprint", "q36_minhash_lsh", "q58_tfidf", "q105_bm25"],
    "vector": ["q39_ann_topk", "q45_ann_ivf"],
    "media": ["q70_image_decode"],
}
# Input sizes, one place: sf0.01 of the test tables (15k orders, 1.5k
# customers, 500 documents); perfbench/README.md says why not sf0.1.
SIZES = {
    "medallion_batches": dict(n_cust=1500, n_ord=15000, n_batches=20,
                              wide=300, narrow=5),
    "query_mix": dict(sf=0.01, rounds=40),
}
SPANS = {
    "medallion_batches": ["pipeline.runner.full_load", "pipeline.runner.batch",
                          "pipeline.runner.replay", "tx.read.gold"],
    "query_mix": ["queries.relational", "queries.text", "queries.vector",
                  "queries.media"],
}
COMMIT_SPANS = ["pipeline.runner.full_load", "pipeline.runner.batch",
                "pipeline.runner.replay"]
SPAN_FIELDS = ["wall_s", "self_s", "jobs", "task_s", "gc_s", "shuffle_bytes",
               "fs_meta_ops", "fs_bytes_written"]
UNITS = {"wall_s": "s", "self_s": "s", "task_s": "s", "gc_s": "s", "jobs": "count",
         "shuffle_bytes": "bytes", "fs_meta_ops": "count",
         "fs_bytes_written": "bytes", "versions": "count"}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


# ---- pure helpers (covered by --selfcheck) ---------------------------------

def percentile_rule(n):
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten of `n`
    samples beyond it; None below 20 samples."""
    ok = [p for p in (50, 75, 90, 95, 99, 99.9) if n * (100 - p) / 100 >= 10]
    return ok[-1] if ok else None


def union_ms(intervals, lo, hi):
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(span_start, span_end, jobs):
    """Span wall minus the union of its Spark job intervals (driver time)."""
    return ((span_end - span_start) - union_ms(jobs, span_start, span_end)) / 1000.0


def selfcheck():
    import tempfile
    assert percentile_rule(19) is None
    assert percentile_rule(20) == 50
    assert percentile_rule(99) == 75
    assert percentile_rule(100) == 90
    assert percentile_rule(1000) == 99
    # overlapping concurrent jobs count once; parts outside the span do not
    jobs = [(0, 40), (10, 30), (20, 60), (80, 90), (95, 200)]
    assert union_ms(jobs, 0, 100) == 60 + 10 + 5
    assert abs(self_seconds(0, 100, jobs) - 0.025) < 1e-12
    assert self_seconds(0, 100, []) == 0.1
    assert union_ms([(50, 40)], 0, 100) == 0
    # generator determinism: same seed same bytes, another seed differs
    hashes = []
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        for i, seed in enumerate((7, 7, 8)):
            d = f"{tmp}/{i}"
            generate("query_mix", seed, d, small=True)
            generate("medallion_batches", seed, d, small=True)
            hashes.append(gen.content_hash(d))
    assert hashes[0] == hashes[1], "same seed must give identical inputs"
    assert hashes[0] != hashes[2], "another seed must give other inputs"
    print("selfcheck OK: percentile rule, self time over overlapping jobs, "
          "generator determinism")


# ---- build -----------------------------------------------------------------

def sources_digest():
    """sha256 over every file the build reads."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirs, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on PATH is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("Spark not found: set SPARK_HOME")
    return home


def build(work):
    """Compile once per source state and pack the classes into a jar (the
    class-data-sharing archives below map jars only); later runs reuse
    both. Returns the jar."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp, jar = os.path.join(work, "build.stamp"), os.path.join(work, "perfbench.jar")
    digest = sources_digest()
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with zipfile.ZipFile(jar, "w") as z:
        for dirpath, dirs, files in sorted(os.walk(classes)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, classes))
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


def cds_flag(work, workload):
    """JVM class-data sharing: the first run of a workload after a build
    dumps the classes it loaded, later runs map them and start faster.
    A stale or unreadable archive only turns sharing off."""
    jsa = os.path.join(work, f"{workload}.jsa")
    if os.path.exists(jsa):
        return f"-XX:SharedArchiveFile={jsa}"
    return f"-XX:ArchiveClassesAtExit={jsa}"


# ---- inputs ----------------------------------------------------------------

def generate(workload, seed, out, small=False):
    import numpy as np
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    size = dict(SIZES[workload])
    if small:
        size = {"medallion_batches": dict(n_cust=50, n_ord=200, n_batches=6, wide=20, narrow=2),
                "query_mix": dict(sf=0.0005, rounds=2)}[workload]
    if workload == "medallion_batches":
        gen.gen_medallion(rng, out, **size)
    else:
        gen.gen_query_mix(rng, out, families=QUERY_FAMILIES, **size)


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, setup_s):
    plain = res["loop"]
    ops = [o[1] for o in plain["ops"] if o[2]]
    rule = percentile_rule(len(ops))
    print(f"[perfbench] {len(ops)} ops; highest percentile with at least ten "
          f"ops beyond it: {f'p{rule}' if rule else 'none'} (only the median is reported)")
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(ops), "s"),
        "ops_per_s": (len(ops) / plain["wall_s"], "1/s"),
    }


def per_layer(workload, res):
    """Per span: means per call of its wall, self time, Spark jobs, task
    and GC time, shuffle bytes, file-system metadata ops and bytes
    written (and `v=` versions for commit spans); spans a workload does
    not call read 0. Jobs and tasks belong to the span whose interval
    holds their own start time."""
    loop = res["loop"]
    jobs = [(j[1], j[2]) for j in res["jobs"]]
    tasks = res["tasks"]
    out = {}
    timed = {"wall": 0.0, "task_ms": 0.0, "jobs_ms": []}
    for name in ["core.setup"] + [n for w in WORKLOADS for n in SPANS[w]]:
        mine = [s for s in loop["spans"] if s[0] == name]
        agg = dict.fromkeys(SPAN_FIELDS + ["versions"], 0.0)
        for _, s0, s1, fs_meta, fs_bytes, versions in mine:
            in_span = [(a, b) for a, b in jobs if s0 <= a <= s1]
            ts = [t for t in tasks if s0 <= t[0] <= s1]
            agg["wall_s"] += (s1 - s0) / 1000.0
            agg["self_s"] += self_seconds(s0, s1, in_span)
            agg["jobs"] += len(in_span)
            agg["task_s"] += sum(t[1] for t in ts) / 1000.0
            agg["gc_s"] += sum(t[2] for t in ts) / 1000.0
            agg["shuffle_bytes"] += sum(t[3] for t in ts)
            agg["fs_meta_ops"] += fs_meta
            agg["fs_bytes_written"] += fs_bytes
            agg["versions"] += versions
            if name != "core.setup":
                timed["wall"] += (s1 - s0) / 1000.0
                timed["task_ms"] += sum(t[1] for t in ts)
                timed["jobs_ms"] += [b - a for a, b in in_span]
        for f in SPAN_FIELDS + (["versions"] if name in COMMIT_SPANS else []):
            out[f"{name}.{f}"] = (agg[f] / max(len(mine), 1), UNITS[f])
    counts = loop["counts"]
    out["spark.job_p50_ms"] = (median(timed["jobs_ms"]), "ms")
    out["spark.core_busy"] = (
        timed["task_ms"] / 1000.0 / (timed["wall"] * res["cores"]), "ratio")
    out["spark.failed_tasks"] = (sum(t[4] for t in tasks), "count")
    out["jvm.peak_rss_mb"] = (res["vmhwm_kb"] / 1024.0, "MB")
    out["jvm.live_heap_mb"] = (loop["live_heap_mb"], "MB")
    out["host.canary_s"] = (median(loop["canary"]), "s")
    out["trace.overhead_s"] = (res["listener_busy_s"], "s")
    kinds = {p[0] for p in loop["phases"]}
    in_bytes = counts.get("input_bytes", 0.0)
    written = sum(counts.get(f"{k}.written_bytes", 0.0) for k in kinds)
    out["write_amp"] = (written / in_bytes if in_bytes else 0.0, "ratio")
    out["space_amp"] = (counts.get("final_bytes", 0.0) /
                        (in_bytes + counts.get("setup_input_bytes", 0.0))
                        if in_bytes else 0.0, "ratio")
    spans_s = sum((s[2] - s[1]) / 1000.0 for s in loop["spans"]
                  if s[0] in SPANS[workload]) - counts.get("full_load.seconds", 0.0)
    print(f"[perfbench] span coverage of the timed wall_s: {spans_s / loop['wall_s']:.3f}")
    return out


# ---- output checks (clock stopped) ------------------------------------------

def canonical_hash(path):
    import duckdb
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    rows = sorted(tuple(repr(r[i]) for i in idx) for r in rel.fetchall())
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def query_checks(run_root, inputs, rounds):
    checks = []
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        f"{inputs}/tables", f"{run_root}/r0"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=170)
    summary = (r.stdout.strip().splitlines() or ["no output"])[-1]
    fails = [ln for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
    checks.append(("duckdb_oracle_round0", r.returncode == 0,
                   summary + ("; " + "; ".join(fails[:5]) if fails else "")))
    names = sorted(os.listdir(f"{run_root}/r0"))
    names = [n for n in names if os.path.isdir(f"{run_root}/r0/{n}")]
    first = {n: canonical_hash(f"{run_root}/r0/{n}") for n in names}
    bad = [f"r{k}/{n}" for k in range(1, rounds) for n in names
           if canonical_hash(f"{run_root}/r{k}/{n}") != first[n]]
    checks.append(("rounds_hash_equal_round0", not bad,
                   f"{rounds} rounds x {len(names)} queries; differing {bad[:5]}"))
    return checks


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        return selfcheck()
    if not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources (src/main/scala) not found next to perfbench/")
    t_start = time.time()
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    jar = build(base)
    t_start = max(t_start, time.time())  # the build is not set-up

    work = os.path.join(base, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    generate(a.workload, a.seed, inputs)
    print(f"[perfbench] inputs sha256 {gen.content_hash(inputs)} "
          f"(workload {a.workload}, seed {a.seed})")

    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark_jars = os.path.join(spark_home(), "jars", "*")
    cmd = (["java"] + ADD_OPENS + [
        cds_flag(base, a.workload),
        "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", f"{jar}:{spark_jars}",
        "perfbench.Main", "--workload", a.workload, "--inputs", inputs,
        "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", out, "--cores", str(len(os.sched_getaffinity(0)))])
    t_launch = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = proc.communicate(timeout=170 - (t_launch - t_start))
    except subprocess.TimeoutExpired:
        proc.kill()
        log, _ = proc.communicate()
        sys.stderr.write(log[-6000:])
        raise SystemExit("benchmark process timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(log[-6000:])
        raise SystemExit(f"benchmark process failed ({proc.returncode})")
    for ln in log.splitlines():
        if ln.startswith("[perfbench]"):
            print(ln)
    res = json.load(open(out))
    # set-up: input generation, JVM launch, session, the workload's own
    # set-up and warm-up — everything before the first timed op
    setup_s = res["ready_ms"] / 1000.0 - t_start

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    if a.workload == "query_mix":
        checks += query_checks(f"{work}/run", inputs, int(res["loop"]["counts"]["steps"]))
    for name, ok, detail in checks:
        print(f"[perfbench] check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    ops = res["loop"]["ops"]
    failed = sum(1 for o in ops if not o[2]) + sum(1 for c in checks if not c[1])
    correct = all(c[1] for c in checks) and failed == 0
    metrics = per_layer(a.workload, res) if a.trace else \
        end_to_end(res, setup_s)
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops) + len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
