"""Record the expected checksum of every catalog request.

    python3 perfbench/record_expected.py [workload ...]

Runs each workload's whole catalog once, at both input scales, in a fresh
client and writes ``perfbench/expected.json``. Record only from a commit
whose outputs are known to be right: the benchmark counts every later
mismatch as a failed request. ``crosscheck_oracle.py`` checks the
library against the DuckDB oracle on the same inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    sys.path[:0] = [run.ROOT, run.BENCH]
    from workloads import WORKLOADS

    path = os.path.join(run.BENCH, "expected.json")
    expected = {}
    if os.path.exists(path):
        with open(path) as f:
            expected = json.load(f)
    for name in sys.argv[1:] or sorted(WORKLOADS):
        wl = WORKLOADS[name]
        for scale in sorted(wl.scales):
            data_dir, _ = run.ensure_data(wl, scale)
            run_dir = os.path.join(run.WORK, "runs", f"record-{name}-{scale}")
            shutil.rmtree(run_dir, ignore_errors=True)
            env = run.host_env(run_dir, None)
            _, rec = run.run_client(
                ["--workload", name, "--seed", "0", "--data", data_dir,
                 "--scale", scale,
                 "--expected", path, "--record"],
                env, os.path.join(run_dir, "record.log"), 1800)
            expected.setdefault(name, {})[scale] = rec["checksums"]
            print(f"{name} {scale}: {len(rec['checksums'])} requests", flush=True)
            with open(path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
