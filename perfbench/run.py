#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan_fanout --seed 1 --seconds 20 --trace 0

Builds the program from source on first use (see build.py), makes the
workload's inputs from the seed, runs the workload in one JVM as a
closed loop with one client, checks every op's output, and prints as
the last line one JSON object: correct, attempted, failed, and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The line before it carries the sample counts behind the percentiles,
and a traced run writes its spans to .bench_work/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import benchlib  # noqa: E402
import build  # noqa: E402

DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"

# Workload op lists. The batch list covers queries.Relational/Extended/
# Reshape, plans (TopK), functions (vector and text expressions) and
# operators (Dedup, Similarity, TextAnalysis, Bpe); the stream list covers
# windows, sessions, dedup with watermark and the keyed-upsert publish
# sink behind a stream-static join.
BATCH = [
    "q_agg_approx", "q_dedup_prefix_filter", "q_tpch_q3", "q_join_shuffle",
    "q_window_rank", "q_topk_sql", "q_topk_custom", "q_sim_cosine_sql",
    "q_unpivot", "q_map_funcs", "q_sim_cosine_topk", "q_text_fingerprint",
    "q_dedup_exact", "q_sim_knn_join", "q_text_bm25", "q_pack_bpe",
]
STREAM = [
    "q_stream_tumbling", "q_stream_session", "q_stream_dedup_watermark",
    "q_stream_cluster_publish",
]
SCAN_FILES = 50
SCAN_ROWS = 600_000
# passes after the cold one that are run but not measured: ScanRunner's
# per-file planning and job launch take a few hundred file jobs to reach
# the JIT's steady state; the library workloads' cold pass suffices
WARMUP = {"scan_fanout": 4}
SETUP_REPS = 3
HEAP = "2g"
JVM_TIMEOUT_S = 160

WORKLOADS = {"scan_fanout": [], "batch_library": BATCH, "stream_state": STREAM}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, work, args, timeout):
    """Run the harness; its stdout and stderr go to a log in the work dir."""
    out = work / "harness.json"
    tmp = work / "tmp"
    tmp.mkdir()
    # -XX:-UsePerfData: no hsperfdata file outside the work dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.Harness", f"out={out}", f"work={work}"] +
           [f"{k}={v}" for k, v in args.items()])
    with open(work / "harness.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness exceeded {timeout} s")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.exists():
        tail = (work / "harness.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness exited {rc}\n{tail}")
    return benchlib.load_json(out)


def run(workload, seed, seconds, trace):
    classpath = build.build()
    t0 = time.time()
    work = ROOT / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return measure(classpath, work, workload, seed, seconds, trace, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(classpath, work, workload, seed, seconds, trace, t0):
    args = {"workload": workload, "seconds": seconds, "trace": trace,
            "cores": cores(), "data": DATA, "ops": ",".join(WORKLOADS[workload]),
            "warmup": WARMUP.get(workload, 0)}
    # inputs are made SETUP_REPS times and the median counted, so a
    # one-off stall in set-up does not move setup_s
    gen_times, manifest = [], None
    if workload == "scan_fanout":
        for r in range(SETUP_REPS):
            g = time.time()
            m = benchlib.generate_scan_inputs(DATA / "lineitem.parquet", work / f"in{r}",
                                              seed, SCAN_FILES, SCAN_ROWS)
            gen_times.append(time.time() - g)
            if manifest is not None and m != manifest:
                raise RuntimeError("input generation is not deterministic")
            manifest = m
        for r in range(1, SETUP_REPS):
            shutil.rmtree(work / f"in{r}")
        args["inputs"] = work / "in0"
    # only the traced run reports percentiles: per-file jobs up to p99,
    # other ops at p50
    args["min_samples"] = (0 if not trace else benchlib.min_samples(
        0.99 if workload == "scan_fanout" else 0.5))
    launch = time.time()
    res = run_jvm(classpath, work, args, JVM_TIMEOUT_S)
    gen_extra = sum(gen_times) - (statistics.median(gen_times) if gen_times else 0)
    setup_s = res["first_op_epoch_s"] - t0 - gen_extra

    # correctness: every op of every pass
    expected = benchlib.load_json(EXPECTED)
    attempted = failed = 0
    reasons = []
    for p in res["passes"]:
        if workload == "scan_fanout":
            a, f, why = benchlib.check_scan_pass(p, manifest)
        else:
            a, f, why = benchlib.check_ops(p["ops"], expected)
        attempted, failed = attempted + a, failed + f
        reasons += why

    detail = {"workload": workload, "seed": seed, "cores": res["cores"],
              "passes": len(res["passes"]), "warmup_passes": args["warmup"],
              "setup_jvm_s": res["first_op_epoch_s"] - launch,
              "setup_gen_s": gen_times, "failures": reasons[:10]}
    if trace:
        metrics, counts = benchlib.per_layer(res, res["cores"])
        traces = ROOT / ".bench_work" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{workload}-seed{seed}.json").write_text(json.dumps(res["spans"]))
    else:
        metrics, counts = benchlib.end_to_end(res, setup_s)
    detail.update(counts)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}, detail, res


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, detail, _ = run(a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # no result line: the run itself failed
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
