"""One benchmark client: a fresh python+JVM process.

    python3 perfbench/worker.py --workload W --seed N --seconds S --data DIR \
        --scale S --expected FILE --out FILE [--trace | --record]

Set-up (session, synthetic warm-up, input check) is timed from process
start. Then the worker sends the seeded request stream in a closed loop,
one request at a time, until ``--seconds`` have passed and the request list
(its first passes) is complete, and writes
one JSON record per request to ``--out``. With ``--trace`` every layer call is a
span whose Spark jobs carry the span id as their job description; the
Spark event log is switched on by ``run.py`` through the environment.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

REQUEST_LIMIT_S = 60.0  # a request still running after this is cancelled and failed
# The warm-up chain runs twice: the second round lets the JIT compile the
# planner and executor paths the first round loaded. With one round the
# first request of a run took 3.8-5.4 s, with two 3.6-3.9 s.
WARM_UP_ROUNDS = 2
SAMPLE_EVERY_S = 0.2
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process-tree CPU and RSS, read from /proc


def stat_fields(pid: str) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, pgrp, ...), or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds, rss bytes) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        fields = stat_fields(name) if name.isdigit() else None
        if fields is None:
            continue
        out[int(name)] = (
            int(fields[1]),
            (int(fields[11]) + int(fields[12])) / CLK_TCK,
            int(fields[21]) * PAGE,
        )
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


class TreeMonitor:
    """Samples this process and its descendants (the JVM and its Python
    workers): peak summed RSS, and CPU used since ``start``. CPU of a
    process that exits between samples counts up to its last sample."""

    def __init__(self):
        self._stop = threading.Event()
        self._base: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self.peak_rss = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, baseline: bool = False) -> None:
        table = _proc_table()
        rss = 0
        for pid in _tree(table, os.getpid()):
            _, cpu, r = table[pid]
            rss += r
            self._base.setdefault(pid, cpu if baseline else 0.0)
            self._last[pid] = cpu
        self.peak_rss = max(self.peak_rss, rss)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_EVERY_S):
            self._sample()

    def start(self) -> None:
        self._sample(baseline=True)  # CPU already used by live processes
        self._thread.start()

    def cpu(self) -> float:
        """CPU seconds the tree used since ``start``, sampled now."""
        self._sample()
        return sum(self._last[p] - self._base[p] for p in self._last)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Spans around the benchmark's calls into the library. Disabled, a
    span costs one generator; enabled, it records (id, parent, name,
    request, start, end) and tags the Spark jobs started inside it with the
    job description ``<request>|<span id>``."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        sp = {"id": len(self.spans), "parent": self._stack[-1]["id"] if self._stack else None,
              "name": name, "request": self.request, "start": time.time()}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobDescription(f"{self.request}|{sp['id']}")
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1]["id"] if self._stack else None
            self.sc.setJobDescription(None if parent is None else f"{self.request}|{parent}")


def install_hooks(tracer: Tracer) -> None:
    """Traced runs only: wrap the library calls the benchmark does not
    make itself, from outside the library. ``panel.read_events`` becomes a
    ``sources`` span and every registry step an ``operators.<module>``
    span, so the registry's spec fold separates from the operator builds."""
    from views_transformation_library_spark import panel, registry

    def wrap(fn, name):
        def wrapped(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        return wrapped

    panel.read_events = wrap(panel.read_events, "sources")
    for key, fn in list(registry.REGISTRY.items()):
        module = getattr(fn, "__module__", "") or ""
        registry.REGISTRY[key] = wrap(fn, "operators." + module.rsplit(".", 1)[-1])


# ---------------------------------------------------------------------------
# set-up


def _warm_identity(pdf):
    return pdf


def warm_up(spark, scratch: str) -> None:
    """Synthetic data only, one job chain: parquet scan, codegen, exchange,
    window, broadcast join, checkpoint and the Arrow worker pool. It never
    reads a benchmark input and never calls a library operator, so no query
    input is precomputed and no operator cache is filled."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window, functions as F

    ids = np.arange(20_000)
    path = os.path.join(scratch, "warmup.parquet")
    pq.write_table(pa.table({"unit_id": ids % 97, "time_id": ids // 97, "value": ids * 0.5}),
                   path, row_group_size=5_000)
    df = spark.read.parquet(path)
    agg = df.groupBy("unit_id").agg(F.sum("value").alias("s"))
    out = (df.localCheckpoint()
           .groupBy("unit_id").applyInPandas(_warm_identity, df.schema)
           .withColumn("lag", F.lag("value", 1).over(Window.partitionBy("unit_id").orderBy("time_id")))
           .join(F.broadcast(agg), "unit_id"))
    checksum(out)


def check_inputs(data_dir: str, tables: set[str]) -> dict[str, int]:
    """Input check: every table the workload reads exists with the row
    count ``datagen`` recorded for it."""
    import pyarrow.parquet as pq

    with open(os.path.join(data_dir, "manifest.json")) as f:
        manifest = json.load(f)
    rows = {}
    for t in sorted(tables):
        n = pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        if n != manifest["rows"][t]:
            raise RuntimeError(f"input {t}: {n} rows, manifest says {manifest['rows'][t]}")
        rows[t] = n
    return rows


# ---------------------------------------------------------------------------
# the action


def checksum(df) -> str:
    """The action: one job that reads every output column. Doubles are
    rounded to 6 decimals (and -0.0 folded into 0.0) so a change in float
    summation order does not read as a wrong answer; maps are hashed via
    their JSON text. ``bit_xor`` of row hashes is order-free, the summed
    second hash and the row count catch rows that cancel in the xor."""
    from pyspark.sql import functions as F

    cols = []
    for name, dtype in df.dtypes:
        c = F.col(f"`{name}`")
        if dtype in ("double", "float"):
            c = F.round(c, 6) + F.lit(0.0)
        elif dtype.startswith("map"):
            c = F.to_json(c)
        cols.append(c)
    x, s, n = df.agg(
        F.bit_xor(F.xxhash64(*cols)), F.sum(F.hash(*cols).cast("long")), F.count(F.lit(1))
    ).collect()[0]
    return f"{x}:{s}:{n}"


# ---------------------------------------------------------------------------


class Context:
    def __init__(self, spark, data_dir: str, tracer: Tracer, first_day: int):
        self.spark = spark
        self.data_dir = data_dir
        self.span = tracer.span
        self.first_day = first_day


def run_request(ctx, tracer: Tracer, sc, req, rid: str) -> tuple[str, float, float]:
    """Build then act; returns (checksum, build_s, total_s). A request
    that is still running after REQUEST_LIMIT_S has its jobs cancelled."""
    tracer.request = rid
    sc.setJobGroup(rid, rid)
    timer = threading.Timer(REQUEST_LIMIT_S, sc.cancelJobGroup, (rid,))
    timer.start()
    t0 = time.perf_counter()
    try:
        with tracer.span("request"):
            df = req.fn(ctx)
            t1 = time.perf_counter()
            with tracer.span("action"):
                got = checksum(df)
    finally:
        timer.cancel()
    t2 = time.perf_counter()
    return got, t1 - t0, t2 - t0


def first_day(data_dir: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = os.path.join(data_dir, "events.parquet")
    if not os.path.exists(path):
        return 0
    ts = pq.read_table(path, columns=["ts"]).column("ts")
    return int(pc.min(ts).value // 86_400_000_000)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--scale", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true",
                    help="record spans and tag Spark jobs with them")
    ap.add_argument("--record", action="store_true",
                    help="run every catalog request once and write its checksum")
    args = ap.parse_args()

    from views_transformation_library_spark.session import get_spark

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    spark = get_spark("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t_session = time.time()
    for _ in range(WARM_UP_ROUNDS):
        warm_up(spark, os.environ["TMPDIR"])
    t_warm = time.time()
    rows = check_inputs(args.data, {t for r in wl.catalog for t in r.tables})
    day0 = first_day(args.data)
    ready = time.time()
    rec = {
        "process_start": PROCESS_START, "ready": ready,
        "session_start_s": t_session - PROCESS_START, "warmup_s": t_warm - t_session,
        "input_rows": rows,
    }
    tracer = Tracer(sc if args.trace else None)
    if args.trace:
        install_hooks(tracer)
    ctx = Context(spark, args.data, tracer, day0)
    if args.record:
        rec["checksums"] = {}
        for req in wl.catalog:
            rec["checksums"][req.id] = run_request(ctx, tracer, sc, req, req.id)[0]
            print(req.id, rec["checksums"][req.id], flush=True)
        _dump(args.out, rec)
        spark.stop()
        return 0

    with open(args.expected) as f:
        expected = json.load(f).get(args.workload, {}).get(args.scale, {})
    from views_transformation_library_spark.operators import trees

    caches = [getattr(trees, n) for n in dir(trees) if hasattr(getattr(trees, n), "cache_info")]

    def cache_counts() -> tuple[int, int]:
        infos = [c.cache_info() for c in caches]
        return sum(i.hits for i in infos), sum(i.misses for i in infos)

    hits0, misses0 = cache_counts()
    monitor = TreeMonitor()
    requests = []
    stream = wl.stream(args.seed)
    list_len = wl.list_len
    monitor.start()
    loop_start = time.time()
    deadline = time.perf_counter() + args.seconds
    while True:
        req = next(stream)
        rid = f"r{len(requests):03d}"
        r = {"rid": rid, "id": req.id, "family": req.family, "start": time.time(),
             "rows": sum(rows[t] for t in req.tables), "tables": list(req.tables)}
        try:
            got, r["build_s"], r["latency_s"] = run_request(ctx, tracer, sc, req, rid)
            r["ok"] = got == expected.get(req.id)
            if not r["ok"]:
                r["error"] = f"checksum {got} != expected {expected.get(req.id)}"
        except Exception:  # a failed request is counted, and the loop goes on
            r["ok"] = False
            r["latency_s"] = time.time() - r["start"]
            r["error"] = traceback.format_exc(limit=3)
        if r["latency_s"] > REQUEST_LIMIT_S:
            r["ok"] = False
            r["error"] = f"over the {REQUEST_LIMIT_S} s request limit"
        requests.append(r)
        if len(requests) == list_len:
            rec["list_end"], rec["list_cpu_s"] = time.time(), monitor.cpu()
            rec["list_peak_rss_bytes"] = monitor.peak_rss
            hits, misses = cache_counts()
            rec["list_cache_hits"], rec["list_cache_misses"] = hits - hits0, misses - misses0
        if len(requests) >= list_len and time.perf_counter() >= deadline:
            break
    loop_end = time.time()
    monitor.stop()
    rec["peak_rss_bytes"] = monitor.peak_rss
    rec.update(loop_start=loop_start, loop_end=loop_end, requests=requests,
               list_len=list_len, spans=tracer.spans)
    spark.stop()
    _dump(args.out, rec)
    return 0


def _dump(path: str, rec: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)


if __name__ == "__main__":
    sys.exit(main())
