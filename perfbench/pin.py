#!/usr/bin/env python3
"""Re-pin perfbench/expected.json, the outputs the library ops are checked
against.

    python3 perfbench/pin.py

Runs batch_library and stream_state once in dump mode, which writes each
cold-pass result and its DuckDB oracle SQL in graft.Verify's layout, and
checks them with tools/paritycheck.py. Only when every query with an
oracle twin passes are the row counts and digests written. A query
without an oracle twin is pinned from its own output, and only if its
warm pass reproduces the cold pass exactly.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import run  # noqa: E402


def main():
    classpath = build.build()
    pinned = {}
    for workload in ["batch_library", "stream_state"]:
        work = run.ROOT / ".bench_work" / f"pin-{workload}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        dump = work / "dump"
        args = {"workload": workload, "seconds": 0, "trace": 0,
                "cores": run.cores(), "data": run.DATA, "min_samples": 0,
                "ops": ",".join(run.WORKLOADS[workload]), "dump": dump}
        res = run.run_jvm(classpath, work, args, run.JVM_TIMEOUT_S)
        oracle = json.loads((dump / "oracle_sql.json").read_text())
        check = subprocess.run([sys.executable, str(run.ROOT / "tools/paritycheck.py"),
                                str(run.DATA), str(dump)], capture_output=True, text=True)
        print(check.stdout, end="")
        if check.returncode != 0:
            sys.exit(f"{workload}: paritycheck failed; expected.json left unchanged")
        cold, *warm = res["passes"]
        for op in cold["ops"]:
            if op["error"]:
                sys.exit(f"{op['name']} failed: {op['error']}")
            again = [o for p in warm for o in p["ops"] if o["name"] == op["name"]]
            if op["name"] not in oracle and any(
                    (o["rows"], o["digest"]) != (op["rows"], op["digest"]) for o in again):
                sys.exit(f"{op['name']} has no oracle twin and is not reproducible")
            pinned[op["name"]] = {"rows": op["rows"], "digest": op["digest"],
                                  "oracle": op["name"] in oracle}
        shutil.rmtree(work)
    (HERE / "expected.json").write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    print(f"pinned {len(pinned)} ops")


if __name__ == "__main__":
    main()
