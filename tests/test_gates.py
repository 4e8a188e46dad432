"""Runtime size gates: the ``panel.materialize_counted`` primitive, and
forced-slow-path runs of the gates that sf0.1 data never trips, hash-
compared against their fast paths."""

import contextlib
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import make_panel
from views_transformation_library_spark import panel, plans
from views_transformation_library_spark.operators import dedup, trees


def digest(df):
    """(row count, bit_xor of xxhash64 over every column) — order-free."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


@contextlib.contextmanager
def no_auto_broadcast(spark):
    """Keep Spark from broadcasting a small side on its own estimate, so a
    gate that withholds its broadcast hint really runs the shuffle join."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def spy_counts(monkeypatch, module):
    """Record every count that ``module``'s materialize_counted returns."""
    seen = []

    def counted(df, where=None):
        out, n = panel.materialize_counted(df, where)
        seen.append(n)
        return out, n

    monkeypatch.setattr(module, "materialize_counted", counted)
    return seen


# ---------------------------------------------------------------------------
# materialize_counted


@pytest.fixture()
def signed(spark):
    rows = [(None,), (float("nan"),), (0.0,), (-1.5,), (2.0,), (3.0,),
            (float("nan"),), (None,), (-0.0,), (7.25,)]
    return spark.createDataFrame(rows, "v double")


def test_materialize_counted_counts_rows(signed):
    out, n = panel.materialize_counted(signed)
    assert n == signed.count() == 10
    assert out.count() == 10
    empty, n0 = panel.materialize_counted(signed.filter(F.lit(False)))
    assert n0 == 0 and empty.count() == 0


@pytest.mark.parametrize(
    "where",
    [
        lambda: F.col("v") > 0,   # NaN > 0 is true in Spark; NULL is not
        lambda: F.col("v") < 0,
        lambda: F.col("v") == 0,  # 0.0 and -0.0
        lambda: F.isnan("v"),
        lambda: F.col("v").isNull(),
    ],
    ids=["positive", "negative", "zero", "nan", "null"],
)
def test_materialize_counted_where_matches_filter_count(signed, where):
    where = where()  # Columns need the active session
    out, n = panel.materialize_counted(signed, where=where)
    assert n == signed.filter(where).count()
    # the where clause only counts; every row is kept
    assert out.count() == 10


def test_materialize_counted_adds_no_job(spark):
    """The count rides the checkpoint job: materialize_counted launches as
    many jobs as a plain materialize of the same frame."""
    sc = spark.sparkContext

    def frame():
        return (
            spark.range(0, 5000, numPartitions=4)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("id").alias("s"))
        )

    def jobs_of(fn):
        group = f"gate-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "materialize_counted job count")
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    plain_jobs, _ = jobs_of(lambda: panel.materialize(frame()))
    counted_jobs, (_, n) = jobs_of(lambda: panel.materialize_counted(frame()))
    assert n == 7
    assert plain_jobs >= 1
    assert counted_jobs == plain_jobs


def test_materialize_counted_rejects_streaming(spark):
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="streaming"):
        panel.materialize_counted(stream)


# ---------------------------------------------------------------------------
# forced slow paths: same hash as the fast path


def test_grid_lag_forced_shuffle_mesh_matches_broadcast(spark, monkeypatch):
    """GRID_MESH_BROADCAST_CAP = 0 makes the mesh bound inconclusive, so
    each mesh is pinned with its exact count and joined by shuffle — the
    path panels past sf1 take. Output must be bit-identical."""
    rng = np.random.RandomState(5)
    pgids = [lat * 720 + lon for lat in range(6) for lon in range(6)]
    rows = [
        (t, p, float(rng.randint(0, 40)), float(rng.choice([0, 0, 1, 90])))
        for t in (1, 2, 3)
        for p in pgids
    ]
    df = make_panel(spark, rows, cols=("time_id", "unit_id", "a", "b"))
    with no_auto_broadcast(spark):
        fast_out = trees.grid_lag(df, 50.0, 0)
        fast_grids = trees.grid_lag(df, 50.0, 0, keep_grids=True)
        fast = digest(fast_out)
        seen = spy_counts(monkeypatch, trees)
        monkeypatch.setattr(trees, "GRID_MESH_BROADCAST_CAP", 0)
        slow_out = trees.grid_lag(df, 50.0, 0)
        slow_grids = trees.grid_lag(df, 50.0, 0, keep_grids=True)
        slow = digest(slow_out)
        assert digest(slow_grids[0]) == digest(fast_grids[0])
        assert digest(slow_grids[1]) == digest(fast_grids[1])
        # one mesh broadcast per feature withheld
        assert plans.count_broadcasts(slow_out) == (
            plans.count_broadcasts(fast_out) - 2
        )
    assert fast[0] == len(rows)
    assert slow == fast
    # per call: the panel count, then one exact mesh count per feature
    assert len(seen) == 2 * 3 and seen[0] == len(rows)
    assert all(n > 0 for n in seen[1:3])


def test_decontaminate_forced_shuffle_matches_broadcast(spark, monkeypatch):
    """EVAL_GRAM_BROADCAST_CAP = 0 withholds the eval-gram broadcast (the
    path an eval set with more distinct n-grams than the cap takes).
    Output must be bit-identical."""
    ev = spark.createDataFrame(
        [(100, "zz p1 p2 p3 p4 p5 yy"), (101, "a b c d e f g"),
         (102, "q1 q2 q3 q4")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "a b p1 p2 p3 p4 p5 c d"),
            (2, "a b c d x y z"),
            (3, "q1 q2 q3 q4 q5 q6"),
            (4, "nothing in common with any eval text"),
            (5, "zz p1 p2 yy"),
            (6, "q r"),
        ],
        "doc_id long, text string",
    )
    with no_auto_broadcast(spark):
        fast_out = dedup.decontaminate(tr, ev, n=3)
        fast = digest(fast_out)
        seen = spy_counts(monkeypatch, dedup)
        monkeypatch.setattr(dedup, "EVAL_GRAM_BROADCAST_CAP", 0)
        slow_out = dedup.decontaminate(tr, ev, n=3)
        slow = digest(slow_out)
        assert plans.count_broadcasts(slow_out) == (
            plans.count_broadcasts(fast_out) - 1
        )
    assert fast[0] == 5  # doc 6 has fewer than n tokens
    assert slow == fast
    assert seen == [5 + 5 + 2]  # distinct eval 3-grams, over the cap of 0
