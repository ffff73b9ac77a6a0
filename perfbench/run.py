#!/usr/bin/env python3
"""graft benchmark: oracle-checked registry workloads on local Spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Builds graft and the harness from source (sbt, offline) when the
sources changed since the last build, runs one JVM on the workload's
queries, checks every query's output against the committed oracle
digest, and prints one JSON result as the last line of stdout. The
line before it is the full record: run context, query order, per-pass
and per-query times. `--trace 1` reports the per-layer metrics instead
of the end-to-end ones and also writes them to perfbench/results/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
SPARK_JARS = "/opt/spark/jars/*"
CORES = 4
# a first run builds, and build plus run must end within 900 s
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# the harness starts no pass that would end later than this after JVM
# start, which bounds a run's length on a slow or busy machine
DEADLINE_S = 60

WORKLOADS = {
    "curation": [
        "q133_dedup_clusters", "q191_edit_distance_pairs",
        "q178_text_cluster", "q205_source_overlap"],
    "streaming": [
        "q44_stream_dedup", "q136_stream_dedup_minhash",
        "q126_cep_stream_timeouts"],
}

# the graft.Registry modules the workloads' queries come from
MODULES = ["Dedup", "TextAnalysis", "CorpusStats", "StreamQueries"]

END_TO_END = [("setup_s", "s"), ("pass_x_ref", "ratio"),
              ("query_geomean_x_ref", "ratio"), ("ok_frac", "fraction"),
              ("heap_live_mb", "MB")]

# raw wall times of the untraced passes; they move with the machine's
# load, so they carry no bound and are reported with the layers
WALL_UNITS = [("pass_s", "s"), ("query_geomean_s", "s"), ("ref_s", "s")]

LAYER_UNITS = WALL_UNITS + [
    ("build_s", "s"), ("action_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("driver_gap_s", "s"),
    ("task_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_records", "count"), ("shuffle_read_records", "count"),
    ("spill_bytes", "bytes"), ("stage_tail_s", "s"),
    ("stages_1task", "count"),
    ("scan_records", "count"), ("scan_bytes", "bytes"),
    ("result_bytes", "bytes"),
    ("plan.executions", "count"), ("plan.exchanges", "count"),
    ("plan.unpartitioned_windows", "count"),
    ("stream.batches", "count"), ("stream.input_rows", "count"),
    ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.planning_s", "s"), ("stream.wal_commit_s", "s"),
    ("stream.commit_offsets_s", "s"), ("stream.latest_offset_s", "s"),
    ("stream.state_rows", "count"), ("stream.state_bytes", "bytes"),
    ("stream.state_commit_s", "s"),
    ("trace.overhead_frac", "fraction"),
]


def per_layer_metrics():
    """Every per-layer metric with its unit, in report order."""
    ms = list(LAYER_UNITS)
    ms += [(f"module.{m}.s", "s") for m in MODULES]
    ms += [(f"query.{q}.s", "s") for w in WORKLOADS.values() for q in w]
    return ms


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# --- build -----------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on
    timeout so no child outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    """Compiles graft and the harness unless the sources are unchanged
    since the last successful build. Returns the source digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft sources (src/main/scala) not found next to perfbench/; "
             "run from a full checkout of the repository")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building graft and the harness with sbt")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   BUILD_TIMEOUT_S, cwd=HERE, env=env,
                   stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc})", 3)
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java_cmd(work, args):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}", "-Xmx3g",
             f"-XX:ActiveProcessorCount={CORES}", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", f"{CLASSES}:{SPARK_JARS}",
                       "graftbench.Harness"] + args)


# --- correctness -----------------------------------------------------------

def cell_key(v):
    """Canonical cell, as tools/check.py compares them: floats by their
    IEEE bytes, decimals and other values by their text."""
    import datetime
    from decimal import Decimal
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", struct.pack("<d", v).hex())
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, int):
        return ("i", int(v))
    if isinstance(v, (list, tuple)):
        return ("a", tuple(cell_key(x) for x in v))
    if isinstance(v, datetime.datetime):
        return ("t", v.isoformat(sep=" "))
    if isinstance(v, datetime.date):
        return ("t", f"{v.isoformat()} 00:00:00")
    return ("o", str(v))


def frame_digest(df):
    """(rows, sha256) of a result frame: columns sorted by name, rows
    canonicalised and sorted, so row and column order do not matter."""
    cols = sorted(df.columns)
    rows = list(zip(*[df[c].tolist() for c in cols])) if len(df) else []
    keyed = sorted(repr([cell_key(v) for v in r]) for r in rows)
    h = hashlib.sha256(repr(cols).encode())
    for k in keyed:
        h.update(k.encode())
    return len(keyed), h.hexdigest()


def spark_digest(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise RuntimeError("no output written")
    return frame_digest(pd.concat([pd.read_parquet(f) for f in files],
                                  ignore_index=True))


# --- run context -----------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest is in user)
    return sum(v[:8]), v[7]


def other_jvms():
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def testdata_digest(d):
    """md5 over each table's name, size and last 4 KiB (the parquet
    footer), as tools/bench_recheck.py stamps test data."""
    h = hashlib.md5()
    for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        size = os.path.getsize(p)
        h.update(os.path.basename(p).encode())
        h.update(str(size).encode())
        with open(p, "rb") as f:
            f.seek(max(0, size - 4096))
            h.update(f.read())
    return h.hexdigest()


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() or None


# --- metrics ---------------------------------------------------------------

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def summary(passes):
    """Pass and query times over the given passes, raw and divided by
    the reference-job time measured just before each query."""
    per_query, per_query_x = {}, {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["wall_s"])
            per_query_x.setdefault(q["name"], []).append(
                q["wall_s"] / q["ref_s"])
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_geomean_s": geomean([statistics.median(v)
                                    for v in per_query.values()]),
        "ref_s": statistics.median(q["ref_s"] for p in passes
                                   for q in p["queries"]),
        "pass_x_ref": statistics.median(
            p["wall_s"] / sum(q["ref_s"] for q in p["queries"])
            for p in passes),
        "query_geomean_x_ref": geomean([statistics.median(v)
                                        for v in per_query_x.values()]),
    }


def end_to_end(rec, t_launch, attempted, failed):
    s = summary([p for p in rec["passes"] if not p["traced"]])
    return {
        "setup_s": rec["window_start_ms"] / 1e3 - t_launch,
        "pass_x_ref": s["pass_x_ref"],
        "query_geomean_x_ref": s["query_geomean_x_ref"],
        "ok_frac": 1.0 - failed / attempted,
        "heap_live_mb": rec["heap_live_mb"],
    }


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]

    def med(f):
        return statistics.median(f(p) for p in traced)

    out = summary(plain)
    for name, _ in LAYER_UNITS[len(WALL_UNITS):]:
        out[name] = med(lambda p: p["layers"].get(name, 0.0))
    out["build_s"] = med(lambda p: sum(q["build_s"] for q in p["queries"]))
    out["action_s"] = med(lambda p: sum(q["action_s"] for q in p["queries"]))
    # pass time over reference time, so that neither the warm-up trend
    # nor the machine's speed at the time of a pass reads as overhead
    def x_ref(ps):
        return statistics.mean(
            p["wall_s"] / sum(q["ref_s"] for q in p["queries"]) for p in ps)
    out["trace.overhead_frac"] = x_ref(traced) / x_ref(plain) - 1.0
    for m in MODULES:
        out[f"module.{m}.s"] = med(lambda p: sum(
            q["wall_s"] for q in p["queries"]
            if rec["modules"].get(q["name"]) == m))
    for w in WORKLOADS.values():
        for n in w:
            out[f"query.{n}.s"] = med(lambda p: sum(
                q["wall_s"] for q in p["queries"] if q["name"] == n))
    return out


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    digest = build()
    queries = WORKLOADS[a.workload]
    with open(EXPECTED) as f:
        expected = json.load(f)
    missing = [q for q in queries if q not in expected]
    if missing:
        fail(f"no expected digest for {missing}; run perfbench/oracle.py")

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    out = os.path.join(run, "harness.json")
    verify = os.path.join(run, "verify")

    ctx = {"git_sha": git_sha(), "source_sha256": digest,
           "testdata_md5": testdata_digest(DATA), "nproc": os.cpu_count(),
           "cores_used": CORES, "loadavg_start": os.getloadavg()[0],
           "other_jvms_start": other_jvms()}
    cpu0 = cpu_times()
    t_launch = time.time()
    rc = run_group(java_cmd(run, [
        "--queries", ",".join(queries), "--data", DATA,
        "--seconds", str(a.seconds), "--seed", str(a.seed),
        "--trace", str(a.trace),
        "--cores", str(CORES), "--deadline", str(DEADLINE_S),
        "--work", run, "--verify", verify, "--out", out]),
        RUN_TIMEOUT_S, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    cpu1 = cpu_times()
    ctx.update(loadavg_end=os.getloadavg()[0], other_jvms_end=other_jvms(),
               steal_frac=(cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]))
    if rc != 0 or not os.path.exists(out):
        fail(f"harness failed (exit {rc})", 4)
    with open(out) as f:
        rec = json.load(f)

    # correctness: every query's verify-pass output against its oracle
    # digest, plus every execution that threw
    mismatches = {}
    for q in rec["verify"]:
        if q["error"]:
            continue
        try:
            rows, sha = spark_digest(os.path.join(verify, q["name"]))
        except Exception as e:  # unreadable output counts as a failure
            mismatches[q["name"]] = str(e)
            continue
        exp = expected[q["name"]]
        if (rows, sha) != (exp["rows"], exp["sha256"]):
            mismatches[q["name"]] = f"rows {rows} sha256 {sha[:12]}, " \
                f"expected rows {exp['rows']} sha256 {exp['sha256'][:12]}"
    for name, why in mismatches.items():
        log(f"MISMATCH {name}: {why}")
    executions = rec["verify"] + [q for p in rec["passes"] for q in p["queries"]]
    errors = [q for q in executions if q["error"]]
    attempted = len(executions)
    failed = len(errors) + len(mismatches)

    if a.trace:
        values = per_layer(rec)
        units = per_layer_metrics()
    else:
        values = end_to_end(rec, t_launch, attempted, failed)
        units = END_TO_END
    metrics = {n: {"value": values[n], "unit": u} for n, u in units}

    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "run_context": ctx,
            "orders": [[q["name"] for q in p["queries"]]
                       for p in rec["passes"]],
            "passes": [{"traced": p["traced"], "wall_s": p["wall_s"],
                        "ref_s": sum(q["ref_s"] for q in p["queries"]),
                        "layers": p["layers"]}
                       for p in rec["passes"]],
            "session_s": (rec["session_ready_ms"] - rec["jvm_start_ms"]) / 1e3,
            "wall": summary([p for p in rec["passes"] if not p["traced"]]),
            "pass_samples": sum(1 for p in rec["passes"] if not p["traced"]),
            "traced_samples": sum(1 for p in rec["passes"] if p["traced"]),
            "query_s": {q: [x["wall_s"] for p in rec["passes"]
                            for x in p["queries"] if x["name"] == q]
                        for q in queries},
            "mismatches": mismatches,
            "errors": [f"{q['name']}: {q['error']}" for q in errors],
            "metrics": metrics}
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(full, f, indent=1)
    shutil.rmtree(run, ignore_errors=True)

    print(json.dumps(full))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
