#!/usr/bin/env python3
"""Lane benchmark: batch, streaming and dedup lanes of the pipeline.

    python3 lanebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the program and the
benchmark's JVM program from source (sbt, cached by a source stamp),
generates the seeded inputs (cached by workload, seed and size), runs
one JVM that does a fixed amount of work, checks the outputs and prints
one JSON object as its last line of standard output:

    {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
a separately traced run reports the per-layer metrics. Everything the
script writes goes under .lanebench/ in the checkout.
"""
import argparse
import decimal
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".lanebench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
DEDUP_THRESHOLD = 0.5

# Input sizes and lane parameters per workload. A run does a fixed
# amount of work: set-up (session start and an untimed warm-up of every
# code path), then round(--seconds / UNIT_S) measured units of identical
# work (a batch pass, or a stream live phase plus a backlog drain).
UNIT_S = 20.0
WORKLOADS = {
    "batch_reference": {
        "size": {"n": 16000, "exact_families": 200, "near_pairs": 600},
        "params": {},
    },
    "stream_ingest": {
        "size": {"warm_files": 8, "warm_per_file": 200,
                 "live_files": 340, "live_per_file": 6, "live_spacing_ms": 20,
                 "backlog_files": 12, "backlog_per_file": 800},
        "params": {"max_files_per_trigger": 4, "live_max_files": 32},
    },
}

END_TO_END = [("records_per_s", "1/s"), ("event_latency_p50_ms", "ms"),
              ("event_latency_p99_ms", "ms"), ("planted_dup_recall", "ratio"),
              ("setup_s", "s"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("io.records_in", "count"), ("io.input_mb", "MB"), ("io.scan_s", "s"),
    ("io.sink_s", "s"), ("io.sink_mb", "MB"), ("io.sink_files", "count"),
    ("clean.pin_s", "s"), ("clean.geo_s", "s"), ("clean.user_s", "s"),
    ("clean.rows_in", "count"), ("clean.rows_out", "count"),
    ("clean.dedup_keep_ratio", "ratio"), ("clean.raw_scans", "count"),
    ("ops.qr1_s", "s"), ("ops.qr2_s", "s"), ("ops.qr3_s", "s"),
    ("ops.qr3b_s", "s"), ("ops.qr4_s", "s"), ("ops.qr5_s", "s"),
    ("ops.qr6_s", "s"), ("ops.qr7a_s", "s"), ("ops.qr7b_s", "s"),
    ("ops.qr8_s", "s"), ("plans.grouptopk_nodes", "count"),
    ("expr.shingle_s", "s"), ("expr.minhash_s", "s"),
    ("api.near_dup_pairs_s", "s"), ("api.clusters_s", "s"),
    ("api.exact_groups", "count"), ("api.verified_pairs", "count"),
    ("stream.batches", "count"), ("stream.batch_ms_p50", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.add_batch_ms", "ms"), ("stream.wal_commit_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mb", "MB"),
    ("stream.rows_dropped_by_watermark", "count"),
    ("stream.backlog_files", "count"), ("gen.lag_ms_p99", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_cpu_s", "s"), ("spark.busy_ratio", "ratio"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("env.cpu_canary_ms", "ms"), ("env.steal_ratio", "ratio"),
    ("trace.overhead_ratio", "ratio"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print("[lanebench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _stamp():
    """Hash of every input of the build: the program's sources and build
    files and the benchmark's own."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(HERE, "project", "*.properties"))
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("no program sources: expected build.sbt and src/main/scala "
                         "at the checkout root")
    out = os.path.join(STATE, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = _stamp(), os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, stamp
    log("building (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, timeout=840, text=True)
        lf.write(proc.stdout)
    if proc.returncode != 0:
        raise BenchError("build failed; see .lanebench/build/sbt.log")
    lines = [l for l in proc.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise BenchError("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), stamp


def java_cmd(classpath, work, args):
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "lanebench.Main"] + args


def run_jvm(cmd, env, log_path, timeout):
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=ROOT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError("JVM timed out after %ds" % timeout)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError("JVM exited %d:\n%s" % (rc, tail))


# ---------------------------------------------------------------- oracle

def canon(v):
    """Canonical text of one value; BatchLane.canon is the JVM twin."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:" + ("true" if v else "false")
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, float):
        return "d:" + format(decimal.Decimal(v), "f")
    if isinstance(v, decimal.Decimal):
        return "n:" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s:" + v
    return "o:" + str(v)


def result_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("\x1f".join(names[i] + "=" + canon(r[i]) for i in order)
                   for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


TARGET_MARK = "/lanebench-target-root"


def oracle_sql(classpath, stamp, env):
    """Each query's oracle SQL, dumped once per program build with a
    marker in place of the fixture root."""
    out = os.path.join(STATE, "build", "oracle_sql.json")
    stamp_file = out + ".stamp"
    if not (os.path.exists(out) and os.path.exists(stamp_file) and
            open(stamp_file).read() == stamp):
        work = os.path.join(STATE, "build", "oracle_tmp")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        run_jvm(java_cmd(classpath, work, ["--dump-oracle", out]),
                dict(env, SPARK_GRAFT_TARGET=TARGET_MARK),
                os.path.join(work, "jvm.log"), 120)
        shutil.rmtree(work)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return json.load(open(out))


def oracle_hashes(ds_dir, classpath, stamp, env):
    """Hash of each query's DuckDB oracle result over the dataset, cached
    in the dataset directory per program build."""
    cache = os.path.join(ds_dir, "oracle.json")
    if os.path.exists(cache):
        got = json.load(open(cache))
        if got.get("stamp") == stamp:
            return got["hashes"]
    import duckdb
    queries = oracle_sql(classpath, stamp, env)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    hashes = {}
    for name, sql in queries.items():
        cur = con.execute(sql.replace(TARGET_MARK, ds_dir))
        names = [d[0] for d in cur.description]
        hashes[name] = result_hash(names, cur.fetchall())
    con.close()
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "hashes": hashes}, f)
    return hashes


# ---------------------------------------------------------------- metrics

def pctl(values, p, what):
    v = stats.percentile(values, p)
    if v is None:
        raise BenchError("%s: %d samples cannot support a p%g" % (what, len(values), p))
    return v


def dup_recall(outputs):
    """Share of planted exact copies a dedup step removed, over
    (rows_out, truth) pairs: every copy it kept shows as a row beyond
    the expected clean count."""
    kept = copies = 0
    for rows_out, truth in outputs:
        kept += sum(max(0, rows_out[t] - want) for t, want in truth["clean_rows"].items())
        copies += sum(truth["planted_copies"].values())
    return 1.0 - kept / copies


def check_rows(rows_out, truth, what):
    errors = ["%s %s: %d rows, expected %d" % (what, t, rows_out[t], want)
              for t, want in truth["clean_rows"].items() if rows_out[t] != want]
    return len(truth["clean_rows"]), errors


def check_batch(rec, truth, oracle):
    """Query results against the oracle, cleaned row counts against the
    generator's, and the dedup pairs against the planted truth: every
    exact-copy pair found, every planted pair found with its true
    Jaccard. Returns (extra checks attempted, errors)."""
    errors = []
    for name, hs in rec["hashes"].items():
        errors += ["%s execution %d: result differs from the oracle" % (name, i)
                   for i, h in enumerate(hs) if h != oracle.get(name)]
    n, e = check_rows(rec["clean_rows_out"], truth, "clean")
    got = {(a, b): j for a, b, j in rec["pairs"]}
    for a, b, j in truth["planted_pairs"]:
        if (a, b) in got and abs(got[(a, b)] - j) > 1e-9:
            e.append("pair %d-%d: jaccard %r, true %r" % (a, b, got[(a, b)], j))
        if j == 1.0 and (a, b) not in got:
            e.append("exact copy pair %d-%d missing" % (a, b))
    return n, errors + e


def end_to_end(workload, rec, extra_metrics):
    units = rec["units"]
    if workload == "stream_ingest":
        lat, what = rec["latency_ms"], "live file latency"
    else:
        lat, what = stats.freshness_ms([u["wall_s"] for u in units]), "freshness"
    return {
        "records_per_s": stats.median([u["records"] / u["wall_s"] for u in units]),
        "event_latency_p50_ms": pctl(lat, 50, what),
        "event_latency_p99_ms": pctl(lat, 99, what),
        "planted_dup_recall": extra_metrics["planted_dup_recall"],
        "setup_s": rec["setup_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def per_layer(rec, extra_metrics):
    m = {name: 0.0 for name, _ in PER_LAYER}
    for name, secs in stats.self_time_by_name(rec["spans"]).items():
        if name + "_s" in m:
            m[name + "_s"] = secs
    for k, v in rec["counters"].items():
        if k in m:
            m[k] = v
    m.update({k: v for k, v in rec["engine"].items() if k in m})
    m.update({k: v for k, v in extra_metrics.items() if k in m})
    m["env.cpu_canary_ms"] = stats.median(rec["canary_ms"])
    m["env.steal_ratio"] = rec["steal_ratio"]
    m["trace.overhead_ratio"] = rec["overhead_ratio"]
    return m


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]
    try:
        classpath, stamp = build()
        ds_dir, truth = gen.ensure(os.path.join(STATE, "data"), args.workload,
                                   args.seed, cfg["size"], DEDUP_THRESHOLD)
        work = os.path.join(STATE, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(work, d))
        nproc = os.cpu_count() or 1
        slots = max(1, nproc - 1) if args.workload == "stream_ingest" else nproc
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                   SPARK_GRAFT_TARGET=ds_dir if args.workload == "batch_reference" else work)
        oracle = None
        if args.workload == "batch_reference":
            oracle = oracle_hashes(ds_dir, classpath, stamp, env)
        units = max(1, int(round(args.seconds / UNIT_S)))
        params = dict(cfg["params"], records_in=truth["records_in"],
                      threshold=DEDUP_THRESHOLD)
        out = os.path.join(work, "record.json")
        jargs = ["--workload", args.workload, "--seed", str(args.seed),
                 "--data", ds_dir, "--work", work, "--out", out,
                 "--units", str(units), "--trace", str(args.trace),
                 "--slots", str(slots)]
        for k, v in sorted(params.items()):
            jargs += ["--param", "%s=%s" % (k, v)]
        try:
            run_jvm(java_cmd(classpath, work, jargs), env, os.path.join(work, "jvm.log"), 170)
            rec = json.load(open(out))
            keep = os.path.join(STATE, "records")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(out, os.path.join(keep, "%s-s%d-t%d.json" % (args.workload, args.seed, args.trace)))
        finally:
            shutil.rmtree(work, ignore_errors=True)

        failed, errors = rec["failed"], list(rec["errors"])
        attempted = rec["attempted"]
        extra = {}
        if args.workload == "batch_reference":
            n, e = check_batch(rec, truth, oracle)
            attempted += n
            failed, errors = failed + len(e), errors + e
            extra["planted_dup_recall"] = stats.recall(
                [(a, b) for a, b, _ in rec["pairs"]], truth["planted_pairs"],
                truth["threshold"])
        elif args.workload == "stream_ingest":
            outputs = []
            sets = truth["sets"]
            live = {k: {t: sets["live"][k][t] + sets["warm"][k][t] for t in sets["live"][k]}
                    for k in ("clean_rows", "planted_copies")}
            for phase, rows in rec["sink_rows"].items():
                t = live if phase == "live" else sets["backlog"]
                n, e = check_rows(rows, t, phase + " sink")
                attempted += n
                failed, errors = failed + len(e), errors + e
                outputs.append((rows, t))
            extra["planted_dup_recall"] = dup_recall(outputs[:2])
            extra.update(rec["stream_metrics"])
            extra["gen.lag_ms_p99"] = pctl(rec["gen_lag_ms"], 99, "generator lag")
        for e in errors[:20]:
            log("check failed: " + e)
        print(json.dumps({"drift_probe": {"env.cpu_canary_ms": rec["canary_ms"],
                                          "env.steal_ratio": rec["steal_ratio"]}}))
        if args.trace:
            vals = per_layer(rec, extra)
            units_of = dict(PER_LAYER)
        else:
            vals = end_to_end(args.workload, rec, extra)
            units_of = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units_of[k]} for k, v in vals.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    except BenchError as e:
        log("error: %s" % e)
        sys.exit(2)


if __name__ == "__main__":
    main()
