"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload viewser_queryset --seed 1 --seconds 10 --trace 0

Run from the repository root. Untraced (``--trace 0``) it starts one
client in a fresh python+JVM process, which sets up and then sends the
seeded request stream for ``--seconds`` (and at least until the request
list is done); it prints the end-to-end metrics of ``BENCHMARK.json``. Traced
(``--trace 1``) it runs the stream untraced and then traced, and prints the
per-layer metrics; spans and the full per-layer table go to
``.perfbench/runs/<run>/``. Inputs are generated once per checkout under
``.perfbench/data/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")
INITIAL_HEAP_MB = 1024


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def driver_heap_mb() -> tuple[int, int]:
    """(maximum, initial) driver heap in MiB. The maximum fits the host.
    The JVM starts at INITIAL_HEAP_MB: from the default initial heap (1/64
    of RAM), G1 grew the heap to 0.9-2.2 GB depending on how long its
    pauses took on the shared host, and ``peak_rss_mb`` spread by 0.24 of
    its median over seeds; from a fixed start, by about 0.01. The
    workloads fit in it, so the heap grows only when a request needs
    more than that."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap = min(4096, mem_mb // 4)
    return heap, min(INITIAL_HEAP_MB, heap)


def host_env(run_dir: str, trace_dir: str | None) -> dict[str, str]:
    """The host-fit environment every client runs under: all cores, a
    driver heap that fits the host, Spark scratch inside the run directory
    and the package importable by Spark's Python workers."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb, initial_mb = driver_heap_mb()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = ["--conf", "spark.ui.showConsoleProgress=false",
              "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{initial_mb}m"]
    if trace_dir:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{trace_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=os.pathsep.join([ROOT, BENCH]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        TMPDIR=tmp,
    )


def ensure_data(workload, scale_name: str) -> tuple[str, dict]:
    """Generate the workload's inputs once per checkout; the directory name
    carries the scale and a hash of the generator, so a changed generator
    writes fresh inputs."""
    import datagen

    scale = workload.scales[scale_name]
    with open(datagen.__file__, "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:10]
    data_dir = os.path.join(WORK, "data", f"{scale.tag()}-{gen_hash}")
    manifest_path = os.path.join(data_dir, "manifest.json")
    if not os.path.exists(manifest_path):
        rows = datagen.generate(scale, data_dir)
        nbytes = {t: os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in rows}
        with open(manifest_path + ".tmp", "w") as f:
            json.dump({"scale": scale.tag(), "rows": rows, "bytes": nbytes}, f)
        os.replace(manifest_path + ".tmp", manifest_path)
    with open(manifest_path) as f:
        return data_dir, json.load(f)


def _pgroup_alive(pgid: int) -> bool:
    from worker import stat_fields

    for name in os.listdir("/proc"):
        fields = stat_fields(name) if name.isdigit() else None
        if fields and int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_client(args: list[str], env: dict, log_path: str, timeout: float) -> tuple[float, dict]:
    """Start a client in its own process group, wait for it, then make sure
    nothing it started (the JVM, Python workers) outlives it. Returns the
    spawn time and the client's JSON record."""
    out = log_path[:-4] + ".json"
    spawn = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(BENCH, "worker.py"), *args, "--out", out],
                                env=env, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                deadline = time.time() + 10
                while _pgroup_alive(proc.pid) and time.time() < deadline:
                    try:
                        os.killpg(proc.pid, sig)
                    except ProcessLookupError:
                        break
                    time.sleep(0.2)
            proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"client {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out) as f:
        return spawn, json.load(f)


def end_to_end(main: dict, spawn: float) -> tuple[dict, str]:
    """Every metric but ``setup_s`` and ``success_rate`` covers the
    request list: the workload's first passes over its families in a
    fixed order. Requests sent after it until ``--seconds`` count only for
    correctness, so a faster host does not also get more (warm) latency
    samples."""
    reqs = main["requests"]
    list_len = main["list_len"]
    first = reqs[:list_len]
    run_s = main["list_end"] - main["loop_start"]
    lat = [r["latency_s"] for r in first]
    ok = sum(r["ok"] for r in reqs)
    m = {
        "setup_s": main["ready"] - spawn,
        "run_s": run_s,
        "rows_per_s": sum(r["rows"] for r in first) / run_s,
        "req_p50_s": statistics.median(lat),
        # in a request list of 3-12 requests the highest percentile with
        # ten samples beyond it is p17 or lower, no tail; the tail is the
        # slowest request
        "req_tail_s": max(lat),
        "success_rate": ok / len(reqs),
        "peak_rss_mb": main["list_peak_rss_bytes"] / (1 << 20),
        "cpu_s": main["list_cpu_s"],
    }
    note = (f"request list of {list_len} in {run_s:.2f} s, req_tail_s is p100 of it; "
            f"{len(reqs)} requests in {main['loop_end'] - main['loop_start']:.2f} s, "
            f"{len(reqs) - ok} failed")
    return m, note


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input scale; tiny is for the benchmark's own tests")
    ap.add_argument("--expected", default=os.path.join(BENCH, "expected.json"),
                    help="expected checksums per workload and request id")
    args = ap.parse_args()
    # a terminated benchmark still stops its client, the JVM and the
    # Python workers (run_client's cleanup runs on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "views_transformation_library_spark")):
        return fail(f"no views_transformation_library_spark package under {ROOT}")
    sys.path[:0] = [ROOT, BENCH]
    try:
        from workloads import WORKLOADS
    except ImportError as e:
        return fail(f"cannot import the library: {e}")
    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    wl = WORKLOADS[args.workload]
    data_dir, manifest = ensure_data(wl, args.scale)
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-{args.scale}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    trace_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    client = ["--workload", wl.name, "--seed", str(args.seed), "--data", data_dir,
              "--scale", args.scale, "--expected", args.expected]
    timeout = args.seconds + 120
    print(f"# workload {wl.name} seed {args.seed} scale {manifest['scale']}: "
          + ", ".join(f"{t} {manifest['rows'][t]} rows {manifest['bytes'][t]} bytes"
                      for t in sorted(manifest["rows"])))
    try:
        if args.trace:
            env = host_env(run_dir, None)
            _, base = run_client(client + ["--seconds", str(args.seconds)], env,
                                 os.path.join(run_dir, "untraced.log"), timeout)
            env = host_env(run_dir, trace_dir)
            _, traced = run_client(client + ["--seconds", str(args.seconds), "--trace"],
                                   env, os.path.join(run_dir, "traced.log"), timeout)
            import layers

            metrics, rows, check = layers.layer_metrics(traced, base, trace_dir, manifest["bytes"])
            with open(os.path.join(run_dir, "spans.json"), "w") as f:
                json.dump({"spans": traced["spans"], "requests": traced["requests"]}, f)
            with open(os.path.join(run_dir, "layers.json"), "w") as f:
                json.dump({"metrics": metrics, "requests": rows,
                           "self_time_check": {"tolerance": layers.CHECK_TOL,
                                               "tolerance_s": layers.CHECK_ABS_S,
                                               "failed": check}}, f, indent=1)
            main_rec = traced
            print(f"# spans and per-layer table: {os.path.relpath(run_dir, ROOT)}")
            print(f"# self-time check: {len(rows) - len({c.split()[0] for c in check})}"
                  f"/{len(rows)} requests add up to their untraced latency")
            for c in check:
                print(f"# SELF-TIME CHECK FAILED {c}")
        else:
            env = host_env(run_dir, None)
            spawn, main_rec = run_client(client + ["--seconds", str(args.seconds)], env,
                                         os.path.join(run_dir, "main.log"), timeout)
            metrics, note = end_to_end(main_rec, spawn)
            print("# " + note)
    except RuntimeError as e:
        return fail(str(e))
    finally:
        shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    env_note = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}
    env_note["SPARK_LOCAL_DIRS"] = os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT)
    env_note["driver_initial_heap"] = f"{driver_heap_mb()[1]}m"
    print(f"# environment {json.dumps(env_note)}")
    for r in main_rec["requests"]:
        if not r["ok"]:
            print(f"# FAILED {r['rid']} {r['id']}: {r.get('error', '')[-400:]}")
    failed = sum(not r["ok"] for r in main_rec["requests"])
    out = {
        "correct": failed == 0,
        "attempted": len(main_rec["requests"]),
        "failed": failed,
        "metrics": {w["name"]: {"value": metrics[w["name"]], "unit": w["unit"]} for w in wanted},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
