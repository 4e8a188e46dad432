"""Compare the benchmark's generated inputs with the repo's test tables.

    python3 perfbench/compare_inputs.py TEST_TABLE_DIR

Prints, for ``events``, ``documents`` and ``lineitem``, the statistics the
generator imitates, measured on the test tables of TEST_TABLE_DIR (sf0.1)
and on the benchmark's full-scale inputs, side by side. It exits non-zero
when a count statistic (rows, distinct values, ranges) differs by more
than 5% or a distribution quantile by more than 15%. Run from the
repository root.
"""

from __future__ import annotations

import os
import sys

import duckdb

STATS = {  # table -> [(name, SQL expression over the table)]
    "events": [
        ("rows", "count(*)"),
        ("days", "count(DISTINCT CAST(ts AS DATE))"),
        ("users", "count(DISTINCT user_id)"),
        ("event_types", "count(DISTINCT event_type)"),
        ("value_mean", "avg(value)"),
        ("value_p10", "quantile_cont(value, 0.1)"),
        ("value_p50", "quantile_cont(value, 0.5)"),
        ("value_p90", "quantile_cont(value, 0.9)"),
        ("events_per_user", "count(*) / count(DISTINCT user_id)"),
    ],
    "documents": [
        ("rows", "count(*)"),
        ("distinct_texts", "count(DISTINCT text)"),
        ("near_dups", "count(*) FILTER (WHERE text LIKE '% dup')"),
        ("words_p10", "quantile_cont(len(string_split(text, ' ')), 0.1)"),
        ("words_p50", "quantile_cont(len(string_split(text, ' ')), 0.5)"),
        ("words_p90", "quantile_cont(len(string_split(text, ' ')), 0.9)"),
        ("chars_mean", "avg(n_chars)"),
        ("lang_en_share", "avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)"),
        ("sources", "count(DISTINCT source)"),
    ],
    "lineitem": [
        ("rows", "count(*)"),
        ("orderkeys", "count(DISTINCT l_orderkey)"),
        ("partkeys", "count(DISTINCT l_partkey)"),
        ("suppkeys", "count(DISTINCT l_suppkey)"),
        ("quantity_mean", "avg(l_quantity)"),
        ("price_p10", "quantile_cont(l_extendedprice, 0.1)"),
        ("price_p50", "quantile_cont(l_extendedprice, 0.5)"),
        ("price_p90", "quantile_cont(l_extendedprice, 0.9)"),
        ("ship_days", "count(DISTINCT CAST(l_shipdate AS DATE))"),
        ("flag_status_pairs", "count(DISTINCT l_returnflag || l_linestatus)"),
    ],
}
WORDS_SQL = "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w FROM {t})"


def measure(con, path: str, table: str) -> dict[str, float]:
    src = f"read_parquet('{path}')"
    exprs = ", ".join(e for _, e in STATS[table])
    vals = con.execute(f"SELECT {exprs} FROM {src}").fetchone()
    out = {name: float(v) for (name, _), v in zip(STATS[table], vals)}
    if table == "documents":
        out["vocabulary"] = float(con.execute(WORDS_SQL.format(t=src)).fetchone()[0])
    return out


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    import run

    sys.path[:0] = [run.ROOT, run.BENCH]
    from workloads import WORKLOADS

    gen_dirs = {}
    for wl in WORKLOADS.values():
        data_dir, manifest = run.ensure_data(wl, "full")
        for t in manifest["rows"]:
            gen_dirs[t] = data_dir
    con = duckdb.connect()
    bad = []
    print(f"{'statistic':32s} {'test table':>14s} {'generated':>14s}")
    for table in STATS:
        ref = measure(con, os.path.join(sys.argv[1], f"{table}.parquet"), table)
        got = measure(con, os.path.join(gen_dirs[table], f"{table}.parquet"), table)
        for name, want in ref.items():
            tol = 0.15 if any(k in name for k in ("_p", "_mean", "_share")) else 0.05
            off = abs(got[name] - want) > tol * abs(want)
            if off:
                bad.append(f"{table}.{name}")
            print(f"{table + '.' + name:32s} {want:14.2f} {got[name]:14.2f}{'  DIFFERS' if off else ''}")
    print("inputs match the test tables" if not bad else f"{len(bad)} statistics differ: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
