"""Spacetime kNN distances (SURVEY.md §2.4 #38, reference spacetime_distance.py).

The reference rebuilds a cKDTree over all past events for every timestep and
queries every grid cell against it (`spacetime_distance.py:84-211`), with a
hard cap at 600 timesteps as a performance workaround (`:127`).

Spark-first re-expression — EXACT kNN, no 600-step cap, three gated paths
picked by a runtime event count (the conflict-event feature is sparse, so
the count is the cheap, decisive statistic):

1. **Per-slice vectorized kNN** (events ≤ ``driver_cap``): the event table
   is collected once (it is the small side by construction), and each time
   slice computes its full distance matrix in numpy via ``applyInPandas``
   over targets grouped by time — the same per-slice shape as the
   reference's cKDTree loop, but one parallel task per slice instead of a
   driver loop. Arithmetic mirrors the column expressions op-for-op so the
   result is bit-identical to the join path (and the DuckDB oracle).
2. **Staged block-pruned equi-join** (events too big to collect, ν > 0):
   distances live in (lon·0.5°, lat·0.5°, ν·t) space, so an event > B steps
   back is ≥ ν·(B+1) away and one > R cells away (Chebyshev) is ≥
   0.5·(R+1) away. Stage (R, B) hash-joins targets with events on
   (spatial block, time bucket) — events exploded to 3×3 neighbor blocks ×
   2 time buckets — and a cell is *resolved* when its in-box top-k beats
   the stage bound min(ν·(B+1), 0.5·(R+1)); candidate volume per stage is
   events-in-box, not events-in-history (sublinear in panel length, pinned
   in tests/test_spatial.py). Unresolved cells escalate to wider stages,
   then to path 3.
3. **Full θ-join** (residual cells, or ν ≤ 0 where time cannot prune):
   broadcast(events) join on t_e ≤ t, top-k by ROW_NUMBER.

Distance space (reference `:110,135-140`): (lon·0.5°, lat·0.5°, ν·t) with t
in *index* units — for a dense time axis, differences of raw time_ids equal
index differences, and distances only use differences, so raw keys work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from ..panel import KEYS, TIME, UNIT, materialize, materialize_counted, one_feature
from .spatial_grid import PG_STRIDE, with_grid_coords

PGID_TO_DEGREES = 0.5  # reference spacetime_distance.py:110
NO_EVENT_SENTINEL = 999.0  # reference spacetime_distance.py:151

# events collectable to the driver for the per-slice path (~40 B/event)
DENSE_DRIVER_CAP = 50_000
# (spatial radius R in cells, time band B in steps) per pruning stage
DEFAULT_STAGES = ((2, 1), (8, 8))


def _dist2(nu: float):
    return (
        ((F.col("__lon") - F.col("__elon")) * PGID_TO_DEGREES) ** 2
        + ((F.col("__lat") - F.col("__elat")) * PGID_TO_DEGREES) ** 2
        + (F.lit(float(nu)) * (F.col(TIME) - F.col("__te"))) ** 2
    )


def _contrib(return_values: str, power: float):
    if return_values == "distances":
        return F.col("__dist")
    # reference spacetime_distance.py:42 applies np.abs(power) before use
    p = abs(float(power))
    return F.when(F.col("__dist") == 0.0, F.col("__size")).otherwise(
        F.col("__size") / F.pow(F.col("__dist"), F.lit(p))
    )


def _banded_candidates(
    targets: DataFrame, events: DataFrame, R: int, B: int
) -> DataFrame:
    """Equi-join candidates for one (R, B) stage: every event within
    Chebyshev R cells AND at most B steps back. Events are exploded to
    their 3×3 neighbor spatial blocks × 2 time buckets so the join is a
    plain hash join on (block_x, block_y, time_bucket)."""
    ev = (
        events.withColumn("__dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("__dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("__dt", F.explode(F.array(F.lit(0), F.lit(1))))
        .select(
            (F.floor(F.col("__elon") / R) + F.col("__dx")).alias("__bx"),
            (F.floor(F.col("__elat") / R) + F.col("__dy")).alias("__by"),
            (F.floor(F.col("__te") / B) + F.col("__dt")).alias("__bt"),
            "__te", "__ue", "__elon", "__elat", "__size",
        )
    )
    tg = targets.select(
        *KEYS, "__lon", "__lat",
        F.floor(F.col("__lon") / R).alias("__bx"),
        F.floor(F.col("__lat") / R).alias("__by"),
        F.floor(F.col(TIME) / B).alias("__bt"),
    )
    return tg.join(ev, ["__bx", "__by", "__bt"]).filter(
        (F.abs(F.col("__lon") - F.col("__elon")) <= R)
        & (F.abs(F.col("__lat") - F.col("__elat")) <= R)
        & (F.col("__te") <= F.col(TIME))
        & (F.col("__te") >= F.col(TIME) - B)
    )


def _slice_knn(
    targets: DataFrame,
    events: DataFrame,
    return_values: str,
    k: int,
    nu: float,
    power: float,
    out: str,
) -> DataFrame:
    """Per-time-slice vectorized exact kNN (path 1 in the module doc).

    Events are sorted by (t_e, unit_e) so index order IS the tie-break
    order; numpy evaluates the identical left-associated expressions as the
    join path, and the k winners are summed sequentially in (dist², t_e,
    unit_e) order — bit-identical to the Window+avg plan."""
    ev = sorted(
        events.collect(), key=lambda r: (r["__te"], r["__ue"])
    )
    te = np.array([r["__te"] for r in ev], dtype=np.int64)
    elon = np.array([r["__elon"] for r in ev], dtype=np.int64)
    elat = np.array([r["__elat"] for r in ev], dtype=np.int64)
    size = np.array([r["__size"] for r in ev], dtype=np.float64)
    p = abs(float(power))
    nu_f = float(nu)
    weights = return_values != "distances"

    def one_slice(pdf: pd.DataFrame) -> pd.DataFrame:
        t = int(pdf[TIME].iloc[0])
        mask = te <= t
        m = int(mask.sum())
        res = pd.DataFrame({TIME: pdf[TIME], UNIT: pdf[UNIT]})
        if m == 0:
            res[out] = NO_EVENT_SENTINEL
            return res
        k_eff = min(k, m)
        s_te, s_lon, s_lat, s_sz = te[mask], elon[mask], elat[mask], size[mask]
        lon = pdf["__lon"].to_numpy(np.int64)
        lat = pdf["__lat"].to_numpy(np.int64)
        n = len(pdf)
        vals = np.empty(n, dtype=np.float64)
        # chunk the row dimension so the distance matrix stays bounded
        chunk = max(1, 8_000_000 // m)
        for lo in range(0, n, chunk):
            hi = min(n, lo + chunk)
            # identical op order to _dist2: (A + B) + C, left-associated
            d2 = (
                ((lon[lo:hi, None] - s_lon[None, :]) * PGID_TO_DEGREES) ** 2
                + ((lat[lo:hi, None] - s_lat[None, :]) * PGID_TO_DEGREES) ** 2
                + (nu_f * (t - s_te[None, :])) ** 2
            )
            if k_eff < m:
                idx = np.argpartition(d2, k_eff - 1, axis=1)[:, :k_eff]
            else:
                idx = np.broadcast_to(np.arange(m), (hi - lo, m)).copy()
            sel = np.take_along_axis(d2, idx, 1)
            # order the k winners by (dist², t_e, unit_e): np.lexsort, last
            # key is primary; idx IS the (t_e, unit_e) rank by construction
            order = np.lexsort((idx, sel), axis=1)
            idx = np.take_along_axis(idx, order, 1)
            sel = np.take_along_axis(sel, order, 1)
            if k_eff < m and weights:
                # boundary ties: argpartition may keep a different event
                # than the (t_e, unit_e) tie-break demands — only the
                # weights mode can see it (equal distance, different size)
                kth = sel[:, -1]
                n_eq_total = (d2 == kth[:, None]).sum(1)
                n_eq_kept = (sel == kth[:, None]).sum(1)
                for r in np.nonzero(n_eq_total > n_eq_kept)[0]:
                    cand = np.nonzero(d2[r] == kth[r])[0]  # index order == tie order
                    keep_lt = sel[r] < kth[r]
                    slots = k_eff - int(keep_lt.sum())
                    repl = np.concatenate([idx[r][keep_lt], cand[:slots]])
                    idx[r] = repl
                    sel[r] = d2[r][repl]
            d = np.sqrt(sel)
            if weights:
                sz = s_sz[idx]
                with np.errstate(divide="ignore"):
                    contrib = np.where(d == 0.0, sz, sz / d**p)
            else:
                contrib = d
            # sequential sum in sorted order — matches Spark's avg fold
            acc = contrib[:, 0].copy()
            for j in range(1, k_eff):
                acc += contrib[:, j]
            vals[lo:hi] = acc / k_eff
        res[out] = vals
        return res

    out_type = "double"
    return targets.groupBy(TIME).applyInPandas(
        one_slice, schema=f"{TIME} long, {UNIT} long, `{out}` {out_type}"
    )


def spacetime_distances(
    df: DataFrame,
    return_values: str = "distances",
    k: int = 1,
    nu: float = 1.0,
    power: float = 0.0,
    stride: int = PG_STRIDE,
    col: str | None = None,
    out: str | None = None,
    stages: tuple[tuple[int, int], ...] = DEFAULT_STAGES,
    driver_cap: int = DENSE_DRIVER_CAP,
) -> DataFrame:
    """For every (cell, t): the k nearest past-or-present events (value > 0)
    in (x, y, ν·t) space; returns the mean distance ('distances') or the
    mean of event_size/d^|power| with d==0 ⇒ raw size ('weights')
    (reference `spacetime_distance.py:151-182`). Cells with no events yet
    get 999.0.

    Divergences (documented): no 600-timestep cap (reference `:127` — the
    gated paths replace it without losing exactness); when fewer than k
    events exist the mean is over the available ones (cKDTree pads with inf
    distances); equidistant ties broken deterministically by (t_e, unit_e).
    """
    col = col or one_feature(df)
    out = out or col
    # every path reads both the events side and the targets side —
    # materialize the panel once instead of rebuilding it per branch; the
    # event count that picks the path rides that checkpoint job
    is_event = F.col(col) > 0
    pinned, n_events = materialize_counted(df, where=is_event)
    cells = with_grid_coords(pinned, stride)
    events = cells.filter(is_event).select(
        F.col(TIME).alias("__te"),
        F.col(UNIT).alias("__ue"),
        F.col("__lon").alias("__elon"),
        F.col("__lat").alias("__elat"),
        F.col(col).alias("__size"),
    )
    targets = cells.select(*KEYS, "__lon", "__lat")

    if 0 < n_events <= driver_cap:
        return _slice_knn(targets, events, return_values, k, nu, power, out)

    w = Window.partitionBy(TIME, UNIT).orderBy(
        F.col("__dist2").asc_nulls_last(), F.col("__te"), F.col("__ue")
    )
    resolved = []
    if nu > 0 and n_events > 0:  # ν≤0: time cannot prune — full join only
        for R, B in stages:
            cand = _banded_candidates(targets, events, int(R), int(B))
            topk = (
                cand.withColumn("__dist2", _dist2(nu))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .withColumn("__dist", F.sqrt("__dist2"))
            )
            bound2 = min(float(nu) * (B + 1), PGID_TO_DEGREES * (R + 1)) ** 2
            # resolved iff the in-box top-k provably beats every excluded
            # event: k found AND kth strictly inside the bound (excluded
            # events are >= bound away; the tie-break prefers older events,
            # so strict inequality is required)
            agg = materialize(
                topk.groupBy(TIME, UNIT).agg(
                    F.count("*").alias("__cnt"),
                    F.max("__dist2").alias("__kth2"),
                    F.avg(_contrib(return_values, power)).alias("__v"),
                )
            )
            resolved.append(
                agg.filter((F.col("__cnt") == k) & (F.col("__kth2") < bound2)).select(
                    TIME, UNIT, F.col("__v")
                )
            )
            done_keys = resolved[-1].select(TIME, UNIT)
            targets = materialize(targets.join(done_keys, KEYS, "left_anti"))

    # full θ-join for whatever is left (and the no-event sentinel). (A
    # zero-shuffle variant packing events into one broadcast array and a
    # collect_list top-k aggregate were both tried in r1 and measured slower
    # — the window reuses the targets' partitioning, no extra exchange.)
    joined = targets.join(F.broadcast(events), F.col("__te") <= F.col(TIME), "left")
    topk = (
        joined.withColumn("__dist2", _dist2(nu))
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") <= k) | F.col("__dist2").isNull())
        .withColumn("__dist", F.sqrt("__dist2"))
    )
    tail = topk.groupBy(TIME, UNIT).agg(
        F.avg(_contrib(return_values, power)).alias("__v")
    )
    result = tail
    for r in resolved:
        result = result.unionByName(r)
    return result.select(
        TIME, UNIT, F.coalesce(F.col("__v"), F.lit(NO_EVENT_SENTINEL)).alias(out)
    )
