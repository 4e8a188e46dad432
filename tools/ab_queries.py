"""Counterbalanced A/B timing of ``queries()`` entries in two checkouts.

Usage:
    python tools/ab_queries.py A_DIR B_DIR q1,q2,... SF_DIR > AB.json

Runs four fresh sessions in the order A B B A. Each session is a child
process run from its checkout, with the checkout as ``PYTHONPATH`` so
that Spark's Python workers import the same code as the driver. It warms
the JVM on synthetic data (no query input), then times every named query
best of 3 the way ``bench.py`` does — each run rebuilds the query and fully
evaluates it with ``count(*)`` and ``bit_xor(xxhash64(all columns))`` —
and records that checksum. Unlike ``bench.py`` it takes any
``queries()`` entry, not only the headline set. The report gives, per
query, each arm's best time over its two sessions, B/A, and whether all
four sessions produced the same checksum. Set ``SPARK_GRAFT_CPUS`` (and
``SPARK_DRIVER_MEMORY`` on a small host) as for ``bench.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def child(repo: str, names: list[str], sf_dir: str) -> None:
    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod
    from pyspark.sql import Window, functions as F
    from views_transformation_library_spark.session import get_spark

    spark = get_spark("ab_queries")
    warm = spark.range(10_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("t"), F.rand(7).alias("v")
    )
    warm.select(F.lag("v", 1).over(Window.partitionBy("k").orderBy("t"))).collect()
    warm.join(F.broadcast(warm.groupBy("k").count()), "k").agg(F.sum("count")).collect()
    warm.groupBy("k").applyInPandas(lambda p: p, schema="k long, t long, v double").count()
    qs = entrymod.queries()
    out = {}
    for name in names:
        best, digest = None, None
        for _ in range(3):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            cols = ", ".join(f"`{c}`" for c in df.columns)
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(f"bit_xor(xxhash64({cols}))").alias("h"),
            ).collect()[0]
            elapsed = time.time() - t0
            best = elapsed if best is None else min(best, elapsed)
            digest = [row["n"], row["h"]]
        out[name] = {"s": round(best, 3), "checksum": digest}
        print(f"# {name}: {best:.3f}s", file=sys.stderr)
    print(json.dumps(out))


def main() -> None:
    if sys.argv[1] == "--child":
        return child(sys.argv[2], sys.argv[3].split(","), sys.argv[4])
    a_dir, b_dir, names, sf_dir = sys.argv[1:5]
    sf_dir = os.path.abspath(sf_dir)
    arms = {"A": os.path.abspath(a_dir), "B": os.path.abspath(b_dir)}
    sessions = []
    for i, arm in enumerate("ABBA"):
        if i:
            time.sleep(15)  # let the previous JVM's teardown settle
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--child", arms[arm], names, sf_dir],
            cwd=arms[arm], env=dict(os.environ, PYTHONPATH=arms[arm]),
            stdout=subprocess.PIPE, text=True, check=True,
        )
        sessions.append((arm, json.loads(proc.stdout.splitlines()[-1])))
        print(f"# session {i + 1} arm {arm} done", file=sys.stderr)
    queries = {}
    for name in names.split(","):
        best = {
            arm: min(r[name]["s"] for a, r in sessions if a == arm) for arm in "AB"
        }
        queries[name] = {
            "A_s": best["A"],
            "B_s": best["B"],
            "B_over_A": round(best["B"] / best["A"], 3),
            "checksums_equal": len({json.dumps(r[name]["checksum"]) for _, r in sessions}) == 1,
            "sessions": [{"arm": a, **r[name]} for a, r in sessions],
        }
    print(json.dumps({
        "protocol": "ABBA, four fresh sessions, best of 3 per query per session, "
                    "15 s settle between sessions",
        "A": a_dir, "B": b_dir, "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "queries": queries,
    }, indent=1))


if __name__ == "__main__":
    main()
