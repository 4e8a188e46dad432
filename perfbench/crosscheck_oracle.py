"""Cross-check the committed expected checksums against the DuckDB oracle.

    python3 perfbench/crosscheck_oracle.py FILLER_DIR

For every catalog request whose output equals a query of the repo's
catalogue (``__spark_entry__.queries()``), on the benchmark's own inputs:

1. the query's checksum equals the request's checksum in ``expected.json``;
2. the query's rows equal the rows of its ``oracle_sql()`` entry on DuckDB,
   compared as ``tools/check_oracle.py`` compares them.

Spatial requests cover a time range of the data, so their queries run on a
copy of the events that holds only that range. ``oracle_sql()`` builds the
oracles of the whole catalogue and some read tables the benchmark does not
generate (embeddings, orders, ...): FILLER_DIR is a directory of the
repo's test tables that supplies those. Run from the repository root.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import run


def _with_filler(src_dir: str, filler: str, out_dir: str) -> str:
    """A directory holding the benchmark's tables plus, as links, every
    table of ``filler`` the benchmark does not generate."""
    os.makedirs(out_dir, exist_ok=True)
    for d in (filler, src_dir):
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                link = os.path.join(out_dir, name)
                if os.path.lexists(link):
                    os.remove(link)
                os.symlink(os.path.abspath(os.path.join(d, name)), link)
    return out_dir


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    filler = sys.argv[1]
    base = os.path.join(run.WORK, "crosscheck")
    os.environ.update(run.host_env(base, None))  # before the JVM starts
    sys.path[:0] = [run.ROOT, run.BENCH]
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    import worker
    import workloads as W
    from views_transformation_library_spark.session import get_spark

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(run.ROOT, "tools", "check_oracle.py"))
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)

    with open(os.path.join(run.BENCH, "expected.json")) as f:
        expected = json.load(f)
    cases = (  # (workload, request id, query)
        [("viewser_queryset", rid, q) for rid, q in W.VIEWSER_ORACLE.items()]
        + [("spatial_lags", f"{fam}/v{var}/t{W.SPATIAL_STARTS[0]}", q)
           for (fam, var), q in W.SPATIAL_ORACLE.items()]
        + [("corpus_curation", rid, q) for rid, q in W.CORPUS_ORACLE.items()]
    )

    dirs = {}
    for wl in W.WORKLOADS.values():
        data_dir, _ = run.ensure_data(wl, "full")
        if wl.name == "spatial_lags":  # only the first request window
            cut = os.path.join(base, "spatial-window")
            os.makedirs(cut, exist_ok=True)
            lo = W.SPATIAL_STARTS[0]
            duckdb.execute(
                f"COPY (SELECT * FROM read_parquet('{data_dir}/events.parquet') "
                f"WHERE ts >= (SELECT min(ts)::DATE FROM read_parquet('{data_dir}/events.parquet')) "
                f"+ INTERVAL {lo} DAY AND ts < (SELECT min(ts)::DATE FROM "
                f"read_parquet('{data_dir}/events.parquet')) + INTERVAL {lo + W.SPATIAL_WINDOW} DAY) "
                f"TO '{cut}/events.parquet' (FORMAT PARQUET)")
            data_dir = cut
        dirs[wl.name] = _with_filler(data_dir, filler, os.path.join(base, wl.name))

    spark = get_spark("perfbench_crosscheck")
    queries = entry.queries()
    failures = []
    oracles = {}
    for wl_name, rid, query in cases:
        d = dirs[wl_name]
        if d not in oracles:  # oracle_sql() reads the data it is built for
            entry._ORACLE_SF_DIR = d
            oracles[d] = entry.oracle_sql()
        oracle = oracles[d][query]
        con = duckdb.connect()
        for t in os.listdir(d):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{d}/{t}')")
        sdf = queries[query](spark, d)
        got = worker.checksum(sdf)
        want = expected[wl_name]["full"][rid]
        cols = sorted(sdf.columns)
        s_rows = [[r[c] for c in cols] for r in sdf.select(*[F.col(f"`{c}`") for c in cols]).collect()]
        cur = con.execute(oracle)
        d_cols = [x[0] for x in cur.description]
        order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        d_rows = [[r[i] for i in order] for r in cur.fetchall()]
        err = None
        if got != want:
            err = f"checksum {got} != expected {want}"
        elif cols != sorted(d_cols):
            err = f"schema {cols} vs oracle {sorted(d_cols)}"
        else:
            err = check_oracle.compare_rows(s_rows, d_rows)
        print(f"{'FAIL' if err else 'ok  '} {wl_name} {rid} = {query} ({len(s_rows)} rows)"
              + (f": {err}" if err else ""), flush=True)
        if err:
            failures.append(rid)
    spark.stop()
    print(f"{len(cases) - len(failures)}/{len(cases)} requests match their query and its oracle")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
