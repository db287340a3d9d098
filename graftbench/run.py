#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (graftbench/build.sbt pulls in the root build); later
runs reuse the build while the sources are unchanged. Each run makes its
inputs from --seed under a fresh scratch directory, measures, checks the
outputs, deletes the scratch directory and prints one JSON object as the
last line of standard output: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Any failed or wrong op makes the exit
code non-zero. See graftbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("olap", "ingest")
# the olap workload's input: a copy of the repository's sf0.01 fixture
FIXTURE = os.path.join(HERE, "data", "sf0.01")
# the repository's oracle comparison, reused for the olap check
CHECK_PY = os.path.join(ROOT, "tools", "check.py")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# the JVM flags spark-submit would add on JDK 17, plus the vector module
# the SIMD kernels use
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "--add-modules=jdk.incubator.vector"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Builds the program and the harness; returns the runtime classpath."""
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            raise BenchError(f"the program's sources are missing: no {p} "
                             f"at {ROOT}")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the program and the harness with sbt")
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE,
                           stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        raise BenchError("sbt is not on the PATH")
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file) as g:
        return g.read()


def run_jvm(cp, args, work):
    for d in ("tmp", "scratch", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"] + JVM_FLAGS +
           ["-cp", cp, "graftbench.Main"] + [str(a) for a in args])
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, stdin=subprocess.DEVNULL,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BenchError(f"the run did not end within {JVM_TIMEOUT_S} s")
    path = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.exists(path):
        raise BenchError(f"the run failed (java exit {r.returncode})")
    with open(path) as f:
        res = json.load(f)
    log(f"JVM set-up {res['setup_s']:.1f} s (session {res['session_s']:.1f} s); "
        f"JVM {time.time() - t0:.1f} s; calibration ms "
        + ", ".join(f"{x:.0f}" for x in res["host"]["calibration_ms"])
        + f"; steal share {res['host']['steal_share']:.3f}")
    return res


def check_olap(res, work, input_dir):
    """Oracle check of every key's verified result, then the per-op check
    the JVM made against it. Returns (attempted, failed, problems)."""
    verify = os.path.join(work, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    if not os.path.exists(CHECK_PY):
        raise BenchError(f"the oracle check is missing: no {CHECK_PY}")
    verdicts = benchlib.oracle_check(CHECK_PY, input_dir, verify)
    ops = res["run"]["ops"]
    keys = res["run"]["verified_rows"].keys()
    problems = [f"{k}: no oracle SQL" for k in keys if k not in oracle_sql]
    problems += [f"{k}: no oracle verdict" for k in oracle_sql if k not in verdicts]
    problems += [f"{k}: {v}" for k, v in verdicts.items() if v]
    bad_keys = {k for k in keys if k not in oracle_sql or verdicts.get(k, "missing")}
    for o in ops:
        if not o["ok"]:
            problems.append(f"{o['key']} (pass {o['pass']}): {o['error']}")
        elif o["key"] in bad_keys:
            o["ok"] = False
    return len(ops), sum(1 for o in ops if not o["ok"]), problems


def check_ingest(res, work, d):
    """Committed pairs against an exact-Jaccard reference computed here,
    outside the program. Returns (attempted, failed, problems)."""
    import pyarrow.parquet as pq
    run = res["run"]
    back = pq.read_table(os.path.join(d, "backfill.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    stream = pq.read_table(os.path.join(d, "stream.parquet"),
                           columns=["doc_id", "text"]).to_pydict()
    n_back, n_in = int(run["backfill_docs"]), int(run["ingested_docs"])
    docs = dict(zip(back["doc_id"], back["text"]))
    probe = [i for i in stream["doc_id"] if i < n_back + n_in]
    docs.update((i, t) for i, t in zip(stream["doc_id"], stream["text"])
                if i < n_back + n_in)
    reference = benchlib.near_dup_pairs(docs, probe)
    got = pq.read_table(os.path.join(work, "pairs.parquet")).to_pydict()
    committed = list(zip(got["doc_a"], got["doc_b"], got["jaccard"]))
    spurious, missing, allowed = benchlib.pair_check(committed, reference)
    ticks = run["ticks"]
    _, uncommitted = benchlib.open_loop_latencies(
        ticks, [b for b in run["batches"] if b["phase"] == "latency"])
    attempted = int(run["capacity"]["docs"]) + sum(t["docs"] for t in ticks)
    problems = []
    if spurious:
        problems.append(f"{len(spurious)} committed pairs are not exact "
                        f"near-duplicates, e.g. {spurious[:3]}")
    if len(missing) > allowed:
        problems.append(f"{len(missing)} of {len(reference)} reference pairs "
                        f"missing (allowed {allowed}), e.g. {missing[:3]}")
    if uncommitted:
        problems.append(f"{uncommitted} sent docs were never committed")
    failed = uncommitted + len(spurious) + max(0, len(missing) - allowed)
    log(f"ingest check: {len(committed)} committed pairs, {len(reference)} "
        f"reference pairs, {len(missing)} missing, {len(spurious)} spurious")
    return attempted, failed, problems


def end_to_end(res, inputs_s):
    run, wl = res["run"], res["workload"]
    m = {"setup_s": (inputs_s + res["setup_s"], "s")}
    if wl == "olap":
        ok = [o for o in run["ops"] if o["ok"]]
        lat = [o["ms"] for o in ok]
        m["ops_per_s"] = (len(ok) / run["window_s"], "1/s")
    else:
        cap = run["capacity"]
        m["ops_per_s"] = (benchlib.cycle_rate(
            cap["batch_s"], cap["batch_docs"], cap["compact_every"]), "1/s")
        lat, _ = benchlib.open_loop_latencies(
            run["ticks"], [b for b in run["batches"] if b["phase"] == "latency"])
    for q in (50, 90):
        v = benchlib.percentile(lat, q)
        if v is not None:
            m[f"latency_p{q}_ms"] = (v, "ms")
    return m


# per-layer metrics: (name, unit, better); BENCHMARK.json lists the same.
# A layer that does not run in a workload reads 0 there (README.md).
PER_LAYER = [(n, u, b) for n, u, b in (x.split() for x in """
    sources.load_ms ms lower
    sources.load_jobs count lower
    queries.build_ms ms lower
    queries.build_jobs count lower
    queries.action_ms ms lower
    catalyst.analysis_ms ms lower
    catalyst.optimization_ms ms lower
    catalyst.planning_ms ms lower
    exec.jobs count lower
    exec.stages count lower
    exec.tasks count lower
    exec.job_ms ms lower
    exec.driver_gap_ms ms lower
    exec.task_run_ms ms lower
    exec.task_cpu_ms ms lower
    exec.task_gc_ms ms lower
    exec.task_wait_ms ms lower
    exec.core_busy_share share higher
    exec.shuffle_read_bytes bytes lower
    exec.shuffle_write_bytes bytes lower
    exec.spill_bytes bytes lower
    exec.input_bytes bytes lower
    exec.task_failures count lower
    functions.shingle_us_per_doc us lower
    functions.bigram_keys_us_per_doc us lower
    functions.dot_ns_per_elem ns lower
    functions.screen_ns_per_dot ns lower
    functions.simd_on count higher
    operators.ingest_batch_ms ms lower
    operators.compact_ms ms lower
    operators.pairs_per_kdoc count higher
    streaming.trigger_ms_p50 ms lower
    streaming.add_batch_ms ms lower
    streaming.planning_ms ms lower
    streaming.latest_offset_ms ms lower
    streaming.wal_commit_ms ms lower
    streaming.commit_offsets_ms ms lower
    streaming.rows_per_batch count lower
    streaming.jobs_per_batch count lower
    streaming.backlog_rows count lower
    util.index_bytes_per_doc bytes lower
    util.index_data_files count lower
    jvm.gc_ms ms lower
    jvm.retained_heap_mb MB lower
    host.steal_share share lower
    host.calibration_ms ms lower
    bench.ops count higher
    bench.ops_failed count lower
    bench.gen_late_ms_p99 ms lower
    bench.trace_overhead_share share lower
    """.split("\n") if x.strip())]


def per_layer(res, attempted, failed):
    run, wl = res["run"], res["workload"]
    m = dict(res["layers"])
    host = res["host"]
    m["host.steal_share"] = host["steal_share"]
    m["host.calibration_ms"] = sum(host["calibration_ms"]) / 2.0
    m["bench.ops"] = attempted
    m["bench.ops_failed"] = failed
    if wl == "olap":
        items = run["ops"]
    else:
        items = [b for b in run["batches"] if b["phase"] == "capacity"]
        late = [(t["sent_ns"] - t["due_ns"]) / 1e6 for t in run["ticks"]]
        m["bench.gen_late_ms_p99"] = sorted(late)[math.ceil(0.99 * len(late)) - 1]
        lat_batches = [b for b in run["batches"] if b["phase"] == "latency"]
        m["streaming.backlog_rows"] = benchlib.median(
            benchlib.backlog_rows(run["ticks"], lat_batches)) or 0.0
    traced = [x["ms"] for x in items if x["traced"]]
    plain = [x["ms"] for x in items if not x["traced"]]
    m["bench.trace_overhead_share"] = (
        (sum(traced) / len(traced)) / (sum(plain) / len(plain)) - 1.0
        if traced and plain else 0.0)
    return {n: (m.get(n, 0.0), u) for n, u, _ in PER_LAYER}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-op", type=int, default=-1,
                    help="corrupt the result of this timed op (tests the check)")
    a = ap.parse_args(argv)

    cp = build()
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "olap":
            input_dir, inputs_s = FIXTURE, 0.0
        else:
            input_dir = os.path.join(work, "input")
            t0 = time.time()
            inputs.make_ingest(input_dir, a.seed)
            inputs_s = time.time() - t0
            log(f"inputs generated in {inputs_s:.1f} s")
        res = run_jvm(cp, [a.workload, a.seed, a.seconds, a.trace, work,
                           input_dir, a.inject_wrong_op], work)
        if a.workload == "olap":
            per_key = {}
            for o in res["run"]["ops"]:
                per_key.setdefault(o["key"], []).append(o["ms"])
            per_pass = {}
            for o in res["run"]["ops"]:
                per_pass.setdefault(o["pass"], []).append(o["ms"])
            log("median op ms: " + ", ".join(
                f"{k} {benchlib.median(v):.0f}" for k, v in sorted(per_key.items()))
                + "; by pass " + ", ".join(
                    f"{benchlib.median(v):.0f}" for _, v in sorted(per_pass.items()))
                + f"; window {res['run']['window_s']:.1f} s")
        else:
            r = res["run"]
            log(f"ingest set-up {r['setup_phases_s']}; warm-up batches "
                + ", ".join(f"{x:.2f}" for x in r["warmup_batch_s"])
                + f"; capacity {r['capacity']}; batch s "
                + ", ".join(f"{b['ms'] / 1000:.2f}" for b in r["batches"]
                            if b["phase"] != "warmup"))
        t0 = time.time()
        if a.workload == "olap":
            attempted, failed, problems = check_olap(res, work, input_dir)
        else:
            attempted, failed, problems = check_ingest(res, work, input_dir)
        log(f"output check {time.time() - t0:.1f} s")
        if a.trace:
            metrics = per_layer(res, attempted, failed)
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            trace_path = os.path.join(HERE, "out",
                                      f"trace-{a.workload}-{a.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"self_time": benchlib.self_times(res["spans"]),
                           "spans": res["spans"]}, f)
            log(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        else:
            metrics = end_to_end(res, inputs_s)
            short = {"latency_p50_ms", "latency_p90_ms"} - set(metrics)
            if short:
                raise BenchError(f"too few latency samples for {sorted(short)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        log(f"WRONG: {p}")
    correct = not problems and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())}}))
    return 0 if correct else 1


if __name__ == "__main__":
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
