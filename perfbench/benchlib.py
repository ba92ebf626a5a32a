"""The benchmark's own logic, kept free of Spark so it can be unit-tested:
input generation, the percentile rule, output checks and failure
counting, span self times, and the metrics computed from the harness's
raw observations."""
import json
import statistics
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def samples_beyond(n, p):
    """Samples strictly above the nearest-rank p-quantile of n samples."""
    rank = max(1, int(np.ceil(p * n - 1e-9)))
    return n - rank


def min_samples(p):
    """Smallest sample count for which the p-quantile may be reported."""
    n = 1
    while samples_beyond(n, p) < MIN_BEYOND:
        n += 1
    return n


def percentile(values, p):
    """{"value", "n", "beyond"} for the p-quantile of values, linearly
    interpolated between order statistics, or None when fewer than
    MIN_BEYOND samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, p) < MIN_BEYOND:
        return None
    xs = sorted(values)
    pos = p * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": v, "n": n, "beyond": samples_beyond(n, p)}


# ---------------------------------------------------------------- inputs

def scan_sizes(n_files, total_rows):
    """Rows per file: a Zipf profile (many small files, a few large ones)
    whose exact sizes are fixed by the row total, dealt to file names in
    one fixed shuffled order. ScanRunner schedules files by name, so the
    order is the same for every seed: a seed changes the rows, not when
    the large files run."""
    w = 1.0 / np.arange(1, n_files + 1)
    sizes = np.floor(w / w.sum() * total_rows).astype(np.int64)
    sizes[0] += total_rows - sizes.sum()
    return np.random.default_rng(0).permutation(sizes)


def generate_scan_inputs(src, out_dir, seed, n_files, total_rows):
    """Write n_files parquet files of lineitem rows drawn from src plus a
    uniform `ke` column in [0, 1), all from the seed. Returns a manifest
    with the exact number of rows matching `ke > 0.5`."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True)
    table = pq.read_table(src)
    rng = np.random.default_rng([seed, 1])
    matches = 0
    for i, n in enumerate(scan_sizes(n_files, total_rows)):
        rows = table.take(pa.array(rng.integers(0, table.num_rows, n)))
        ke = rng.random(n)
        matches += int((ke > 0.5).sum())
        pq.write_table(rows.append_column("ke", pa.array(ke)),
                       out_dir / f"part-{i:04d}.parquet")
    return {"files": n_files, "rows": int(total_rows), "matches": matches}


# ---------------------------------------------------------------- checks

def check_ops(ops, expected):
    """Count the ops that failed: those that threw, and those whose row
    count or digest differs from the expected values. Returns
    (attempted, failed, reasons)."""
    failed, reasons = 0, []
    for op in ops:
        want = expected.get(op["name"])
        if op.get("error"):
            why = op["error"]
        elif want is None:
            why = "no expected output pinned"
        elif op["rows"] != want["rows"] or op["digest"] != want["digest"]:
            why = (f"rows/digest {op['rows']}/{op['digest']} != "
                   f"{want['rows']}/{want['digest']}")
        else:
            continue
        failed += 1
        reasons.append(f"{op['name']}: {why}")
    return len(ops), failed, reasons


def check_scan_pass(p, manifest):
    """A ScanRunner pass is one scan per file; a failed file counts once,
    and a wrong total with no failed file counts every file of the pass
    (the wrong one cannot be told apart)."""
    files = p["files"]
    if p["failed_files"] == 0 and p["rows_out"] == manifest["matches"]:
        return files, 0, []
    failed = p["failed_files"] or files
    return files, failed, [f"pass {p['index']}: {p['failed_files']} failed files, "
                           f"rows {p['rows_out']} != {manifest['matches']}"]


# ---------------------------------------------------------------- spans

def union_ns(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time (seconds) summed per span name: each span's duration
    minus the part of it its children cover."""
    kids = {}
    for s in spans:
        if s["parent"] >= 0:
            kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered = union_ns([(max(a, s["start_ns"]), min(b, s["end_ns"]))
                            for a, b in kids.get(s["id"], []) if b > a])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


# ---------------------------------------------------------------- metrics

def op_samples(p):
    """Per-op latencies of one pass: per-file scan jobs for ScanRunner,
    micro-batch triggers for streaming queries, whole queries otherwise."""
    if "group" in p:
        return [(j["end_ns"] - j["start_ns"]) / 1e9 for j in p["jobs"]
                if j["group"] == p["group"] and j["site"].startswith("count at")]
    if p["triggers"]:
        return [t["trigger_ms"] / 1e3 for t in p["triggers"]]
    return [o["wall_s"] for o in p["ops"]]


def read_bytes(p):
    # ScanRunner reads through the metered filesystem; the library reads
    # plain files, metered by task input metrics
    return p["fs_read_bytes"] if "group" in p else p["input_bytes"]


def end_to_end(res, setup_s):
    passes = res["passes"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    med = statistics.median
    m = {
        "setup_s": (setup_s, "s"),
        "cold_s": (passes[0]["wall_s"], "s"),
        "warm_s": (med(p["wall_s"] for p in warm), "s"),
        "cpu_s": (med(p["cpu_s"] for p in warm), "s"),
        "rows_per_s": (med(p["input_records"] / p["wall_s"] for p in warm), "1/s"),
        "read_bytes": (med(read_bytes(p) for p in warm), "bytes"),
        "peak_rss_mb": (res["rss_peak_mb"], "MB"),
    }
    return m, {"warm_passes": len(warm)}


def _pct(values, p):
    r = percentile(values, p)
    return r["value"] if r else 0.0


def per_layer(res, cores):
    passes = res["passes"]
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    med = statistics.median
    n = len(traced)

    def per_pass(f):
        return sum(f(p) for p in traced) / n

    ops = [x for p in warm for x in op_samples(p)]
    p50 = percentile(ops, 0.5)
    if p50 is None:
        raise RuntimeError("too few op samples for op.p50_s")
    m = {"op.p50_s": (p50["value"], "s")}
    counts = {"op_samples": p50["n"], "op_p50_beyond": p50["beyond"]}
    scan = "group" in passes[0]
    # runner: ScanRunner's per-file fan-out (zero where it is bypassed)
    if scan:
        p95 = _pct(ops, 0.95)
        p99 = _pct(ops, 0.99)
        waits = [j["start_ns"] / 1e9 for p in traced for j in p["jobs"]
                 if j["group"] == p["group"] and not j["site"].startswith("count at")]
        m.update({
            "runner.files": (per_pass(lambda p: p["files"]), "count"),
            "runner.file_job_s_p95": (p95, "s"),
            "runner.file_job_s_p99": (p99, "s"),
            "runner.queue_wait_s": (sum(waits) / max(len(waits), 1), "s"),
            "runner.read_ops_per_file": (per_pass(lambda p: p["read_ops"] / p["files"]), "count"),
            "runner.read_bytes_per_row_out": (per_pass(lambda p: p["fs_read_bytes"] / max(p["rows_out"], 1)), "bytes"),
            "runner.selectivity": (per_pass(lambda p: p["rows_out"] / max(p["input_records"], 1)), "ratio"),
        })
    else:
        for k, u in [("files", "count"), ("file_job_s_p95", "s"),
                     ("file_job_s_p99", "s"), ("queue_wait_s", "s"),
                     ("read_ops_per_file", "count"), ("read_bytes_per_row_out", "bytes"),
                     ("selectivity", "ratio")]:
            m["runner." + k] = (0.0, u)

    # plan: per planned query (library ops, or sampled per-file scan plans)
    plans = []
    for p in traced:
        if scan:
            plans += [(a, o, ph, 0) for a, o, ph in p["file_plans_ms"]]
        else:
            plans += [(o["analysis_ms"], o["optimizer_ms"], o["physical_ms"], o["exchanges"])
                      for o in p["ops"] if not o.get("error")]
    k = max(len(plans), 1)
    m.update({
        "plan.analysis_ms": (sum(x[0] for x in plans) / k, "ms"),
        "plan.optimizer_ms": (sum(x[1] for x in plans) / k, "ms"),
        "plan.physical_ms": (sum(x[2] for x in plans) / k, "ms"),
        "plan.exchanges": (sum(x[3] for x in plans) / k, "count"),
    })

    # build: eager work inside the query functions
    m.update({
        "build.s": (per_pass(lambda p: sum(o["build_s"] for o in p["ops"])), "s"),
        "build.jobs": (per_pass(lambda p: sum(1 for j in p["jobs"]
                                              if (j["group"] or "").startswith("build:"))), "count"),
    })

    # memo: session-scoped memo lookups
    def memo(p, i):
        before = p["memo_before"]
        return sum(v[i] - before.get(name, {}).get(i, 0)
                   for name, v in p["memo_after"].items())
    hits = per_pass(lambda p: memo(p, "hits"))
    misses = per_pass(lambda p: memo(p, "misses"))
    m.update({
        "memo.hits": (hits, "count"),
        "memo.misses": (misses, "count"),
        "memo.hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
    })

    # exec: Spark task counters
    def ex(k):
        return per_pass(lambda p: p["exec"][k])
    m.update({
        "exec.jobs": (per_pass(lambda p: len(p["jobs"])), "count"),
        "exec.stages": (ex("stages"), "count"),
        "exec.tasks": (ex("tasks"), "count"),
        "exec.run_s": (ex("run_ms") / 1e3, "s"),
        "exec.cpu_s": (ex("cpu_ns") / 1e9, "s"),
        "exec.gc_s": (ex("gc_ms") / 1e3, "s"),
        "exec.cpu_util": (per_pass(lambda p: p["exec"]["cpu_ns"] / 1e9 / (p["wall_s"] * cores)), "ratio"),
        "exec.input_bytes": (ex("input_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (ex("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (ex("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (ex("spill_bytes"), "bytes"),
        "exec.output_bytes": (ex("output_bytes"), "bytes"),
        "exec.peak_exec_mem_bytes": (max(p["exec"]["peak_exec_mem_bytes"] for p in traced), "bytes"),
        "exec.task_skew": (ex("task_skew"), "ratio"),
        "exec.failed_tasks": (ex("failed_tasks"), "count"),
    })

    # stream: micro-batch triggers and their state stores
    def last_state(p, key):  # state held after each query's last trigger
        last = {}
        for t in p["triggers"]:
            last[t["run"]] = t[key]
        return sum(last.values())
    trig = [t for p in traced for t in p["triggers"]]
    nt = max(len(trig), 1)
    m.update({
        "stream.triggers": (per_pass(lambda p: len(p["triggers"])), "count"),
        "stream.commit_ms_per_trigger": (sum(t["commit_ms"] for t in trig) / nt, "ms"),
        "stream.add_batch_ms": (sum(t["add_batch_ms"] for t in trig) / nt, "ms"),
        "stream.state_rows": (per_pass(lambda p: last_state(p, "state_rows")), "count"),
        "stream.state_mem_bytes": (per_pass(lambda p: last_state(p, "state_mem_bytes")), "bytes"),
        "stream.input_rows": (per_pass(lambda p: sum(t["input_rows"] for t in p["triggers"])), "count"),
    })

    m.update({
        "jvm.gc_s": (per_pass(lambda p: p["gc_s"]), "s"),
        "jvm.jit_s": (per_pass(lambda p: p["jit_s"]), "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
    })

    # span self times per traced pass, and the cost of tracing itself
    selfs = self_times(res["spans"])
    for name in ["pass", "op", "build", "plan", "execute", "cleanup", "scan_run", "file_job"]:
        m[f"self.{name}_s"] = (selfs.get(name, 0.0) / n, "s")
    m["trace.spans"] = (len(res["spans"]) / n, "count")
    m["trace.overhead_s"] = (med(p["wall_s"] for p in traced) - med(p["wall_s"] for p in plain), "s")
    counts.update({"traced_passes": n, "untraced_passes": len(plain)})
    return m, counts


def load_json(path):
    return json.loads(Path(path).read_text())
