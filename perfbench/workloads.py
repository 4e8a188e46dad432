"""The benchmark's three workloads: input scale, request catalog, seeded draw.

Every workload has a finite catalog of requests, each with a stable id and
a committed expected checksum (``expected.json``). A run seed draws the
request stream from the catalog in *passes*: one pass holds one request
per entry of the workload's fixed family list, in that order, each with
seeded parameters (thresholds, windows, event types, time ranges). Fixing
the family mix and order keeps the work of a run similar across seeds while
the seed still changes the inputs of every request.

A request is a function ``fn(ctx) -> DataFrame`` that makes the benchmark's
calls into the library's public functions, each inside ``ctx.span(layer)``:
``panel`` for ``panel.panel_from_events``, ``registry`` for
``registry.transform_json``, ``operators.<module>`` for a direct operator
call and ``sources`` for a table read. The returned frame is not yet
executed; the worker runs the checksum action on it.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from views_transformation_library_spark import panel as P, registry
from views_transformation_library_spark.operators import (
    dedup,
    fourier,
    missing,
    sketches,
    trees,
)
from views_transformation_library_spark.sources import tables

from datagen import Scale

GRID_STRIDE = 16  # unit ids laid out on a 16-wide grid, as in the repo's queries
# the sf0.1 events table: 45,000 cells of 30 days x 1,500 units
EVENTS_FULL = Scale(events=100_000, days=30, units=1500)


@dataclass(frozen=True)
class Request:
    id: str
    family: str
    tables: tuple[str, ...]
    fn: Callable = field(compare=False)


@dataclass(frozen=True)
class Workload:
    name: str
    scales: dict[str, Scale]
    catalog: tuple[Request, ...]
    # the family of each request of a pass, in order
    pass_families: tuple[str, ...]
    # passes in the measured request list
    passes: int = 1

    @property
    def list_len(self) -> int:
        return len(self.pass_families) * self.passes

    def stream(self, seed: int):
        """Endless seeded request stream, one pass at a time. The families
        of a pass keep their order, so the first request of a run, which
        pays the fresh JVM's first-query costs, always comes from the same
        family; the seed draws each request among its family's variants."""
        rng = random.Random(seed)
        choices = [[r for r in self.catalog if r.family == fam] for fam in self.pass_families]
        while True:
            for requests in choices:
                yield rng.choice(requests)


# ---------------------------------------------------------------------------
# shared request pieces


def _panel(ctx, event_type: str | None = None, times: tuple[int, int] | None = None) -> DataFrame:
    """Fresh panel per request, optionally cut to a contiguous range of
    time positions ``[lo, hi)`` counted from the first day of the data."""
    with ctx.span("panel"):
        pn = P.panel_from_events(ctx.spark, ctx.data_dir, event_type=event_type)
        if times is not None:
            lo, hi = times
            t0 = ctx.first_day
            pn = pn.filter(F.col(P.TIME).between(t0 + lo, t0 + hi - 1))
    return pn


def _read(ctx, name: str) -> DataFrame:
    with ctx.span("sources"):
        return tables.read_table(ctx.spark, ctx.data_dir, name)


def _op(ctx, module, fn: Callable, *args, **kwargs):
    with ctx.span("operators." + module.__name__.rsplit(".", 1)[-1]):
        return fn(*args, **kwargs)


# ---------------------------------------------------------------------------
# viewser_queryset: 1-4 step viewser specs over a fresh sf0.1-sized panel


def _ge(threshold: float) -> dict:
    return {"type": "greater_or_equal", "args": [threshold]}


# family -> (label, steps) variants. Every family is a ViEWS feature recipe
# of 1-4 steps: an event indicator feeding a counter, a temporal window, a
# missing-data repair before a lag stack, or the decayed time-since chain.
VIEWSER_FAMILIES: dict[str, list[tuple[str, list[dict]]]] = {
    "cweq": [(f"ge{t:g}", [_ge(t), {"type": "cweq", "args": [0]}]) for t in (100.0, 150.0)],
    "onset": [(f"ge{t:g}", [_ge(t), {"type": "onset", "args": [5]}]) for t in (100.0, 150.0)],
    "moving_average": [(f"w{w}", [{"type": "moving_average", "args": [w]}]) for w in (3, 7)],
    "temporal_entropy": [
        (f"w{w}", [{"type": "temporal_entropy", "args": [w], "kwargs": {"offset": 1.0}}])
        for w in (5, 7)],
    "tlags3d": [
        (f"l{k}", [{"type": "fill", "args": ["forward", None]},
                   {"type": "tlags3d", "kwargs": {"lags": [1, k]}}]) for k in (3, 6)],
    "decayed_time_since": [
        (f"ge{t:g}-h{h:g}", [{"type": "extrapolate", "args": ["both", None]}, _ge(t),
                             {"type": "time_since", "kwargs": {"value": 0}},
                             {"type": "decay", "args": [h]}])
        for t in (100.0, 150.0) for h in (12.0, 24.0)],
}
VIEWSER_EVENT_TYPES = (None, "click", "purchase")
# request id -> query name in ``__spark_entry__.queries()`` with the same
# output, for crosscheck_oracle.py
VIEWSER_ORACLE = {
    "cweq/all/ge100": "cweq", "onset/all/ge100": "onset",
    "moving_average/all/w7": "moving_average", "temporal_entropy/all/w7": "temporal_entropy",
}


def _viewser_request(family: str, event_type: str | None, label: str, steps: list[dict]) -> Request:
    spec_json = json.dumps(steps)

    def fn(ctx) -> DataFrame:
        pn = _panel(ctx, event_type)
        with ctx.span("registry"):
            return registry.transform_json(pn, spec_json)

    return Request(f"{family}/{event_type or 'all'}/{label}", family, ("events",), fn)


def viewser_workload() -> Workload:
    catalog = tuple(
        _viewser_request(fam, et, label, steps)
        for fam, variants in VIEWSER_FAMILIES.items()
        for et in VIEWSER_EVENT_TYPES for label, steps in variants
    )
    return Workload(
        "viewser_queryset",
        {"full": EVENTS_FULL, "tiny": Scale(events=1_000, days=10, units=40)},
        catalog,
        # a pass holds every family once, so the seed draws only event types
        # and parameters, never the family mix; with two passes (12
        # requests) the first request's one-off JVM costs are a small share
        # of run_s
        tuple(VIEWSER_FAMILIES),
        passes=2,
    )


# ---------------------------------------------------------------------------
# spatial_lags: the heavy panel operators on a contiguous time sub-range


def _null_holes(pn: DataFrame) -> DataFrame:
    """Zero cells (no events, or only zero-valued ones) become NULL: the
    input of the missing-data family."""
    return pn.withColumn("value", F.when(F.col("value") != 0.0, F.col("value")))


def _spatial_ops(ctx, family: str, variant: int, pn: DataFrame) -> DataFrame:
    if family == "fourier_lag":
        return _op(ctx, fourier, fourier.fourier_lag, pn, stride=GRID_STRIDE)
    if family == "grid_lag":
        return _op(ctx, trees, trees.grid_lag, pn, 5000.0, variant, stride=GRID_STRIDE)
    if family == "impute_mice":
        two = _null_holes(pn).withColumn("value2", F.col("value") * 2.0)
        return _op(ctx, missing, missing.impute_mice, two, n_imputations=1, n_shards=8,
                   sample_posterior=False)[0]
    raise KeyError(family)


# grid_lag has the driver-side build (tree geometry, mesh gates); fourier
# and MICE cross the Arrow boundary. Variants (the time window; grid_lag's
# distance weighting) change the values, not the amount of work.
SPATIAL_FAMILIES = ("fourier_lag", "grid_lag", "impute_mice")
SPATIAL_VARIANTS = {"fourier_lag": 1, "grid_lag": 2, "impute_mice": 1}
SPATIAL_WINDOW = 10  # days per request
SPATIAL_STARTS = (0, 5, 10, 20)


# (family, variant) -> query name in ``__spark_entry__.queries()``: the same
# output on a data set holding only the request's time range
SPATIAL_ORACLE = {
    ("fourier_lag", 0): "fourier_lag", ("grid_lag", 0): "grid_lag",
    ("impute_mice", 0): "impute_mice",
}


def _spatial_request(family: str, variant: int, start: int, window: int) -> Request:
    def fn(ctx) -> DataFrame:
        return _spatial_ops(ctx, family, variant, _panel(ctx, times=(start, start + window)))

    return Request(f"{family}/v{variant}/t{start}", family, ("events",), fn)


def spatial_workload() -> Workload:
    catalog = tuple(
        _spatial_request(f, v, s, SPATIAL_WINDOW)
        for f in SPATIAL_FAMILIES for v in range(SPATIAL_VARIANTS[f]) for s in SPATIAL_STARTS
    )
    return Workload(
        "spatial_lags",
        {"full": EVENTS_FULL, "tiny": Scale(events=3_000, days=30, units=48)},
        catalog,
        SPATIAL_FAMILIES,
        # two passes: the median latency of 3 requests swung by up to 0.3 of
        # itself over seeds, and the second grid_lag finds the geometry of
        # the unit axis in the tree cache, as a user's next request would
        passes=2,
    )


# ---------------------------------------------------------------------------
# corpus_curation: near-dup detection, LM scoring, sketches; no panel


def curation_spec(min_tokens: int, cap: int) -> list[dict]:
    return [
        {"type": "gopher_filter", "kwargs": {
            "min_tokens": min_tokens, "max_tokens": 100_000, "min_word_len": 3.0,
            "max_word_len": 10.0, "max_symbol_ratio": 0.1,
            "min_alpha_word_frac": 0.8, "min_stopword_hits": 2}},
        {"type": "where_expr", "args": ["keep"]},
        {"type": "select_cols", "args": ["doc_id", "source", "text"]},
        {"type": "passage_dedup", "kwargs": {"n_words": 8}},
        {"type": "where_expr", "args": ["n_kept > 0"]},
        {"type": "cap_per_group", "kwargs": {"group_col": "source", "n": cap}},
        {"type": "token_count", "kwargs": {"col": "text_deduped", "out": "n_tokens"}},
        {"type": "select_cols", "args": ["doc_id", "source", "n_kept", "n_tokens"]},
    ]


def _corpus_ops(ctx, family: str, variant: int) -> DataFrame:
    if family == "hll_distinct":
        li = _read(ctx, "lineitem")
        return _op(ctx, sketches, sketches.hll_distinct, li, "l_partkey", ["l_returnflag"],
                   p=[8, 10][variant])
    docs = _read(ctx, "documents")
    if family == "curation_pipeline":
        with ctx.span("registry"):
            return registry.transform_json(
                docs, json.dumps(curation_spec(*[(20, 10), (30, 15)][variant])))
    if family == "fuzzy_dedup_keep":  # variant: the MinHash seed
        return _op(ctx, dedup, dedup.fuzzy_dedup_keep, docs, n=3, n_hashes=24, bands=6,
                   threshold=0.8, seed=[7, 42][variant]).select("doc_id", "source", "n_chars")
    raise KeyError(family)


# MinHash LSH with the connected-components driver gates (fuzzy_dedup_keep),
# and two requests that are compute-bound at 4 cores: the curation spec
# (Gopher rules, passage dedup, per-source cap) and the HLL sketch.
CORPUS_FAMILIES = ("fuzzy_dedup_keep", "hll_distinct", "curation_pipeline")


# request id -> query name in ``__spark_entry__.queries()`` with the same output
CORPUS_ORACLE = {
    "fuzzy_dedup_keep/v1": "fuzzy_dedup_keep",
    "hll_distinct/v0": "hll_distinct",
    "curation_pipeline/v1": "curation_pipeline",
}


def _corpus_request(family: str, variant: int) -> Request:
    table = "lineitem" if family == "hll_distinct" else "documents"

    def fn(ctx) -> DataFrame:
        return _corpus_ops(ctx, family, variant)

    return Request(f"{family}/v{variant}", family, (table,), fn)


def corpus_workload() -> Workload:
    return Workload(
        "corpus_curation",
        {"full": Scale(documents=5_000, lineitem=600_000),
         "tiny": Scale(documents=200, lineitem=5_000)},
        tuple(_corpus_request(f, v) for f in CORPUS_FAMILIES for v in (0, 1)),
        CORPUS_FAMILIES,
    )


WORKLOADS = {w.name: w for w in (viewser_workload(), spatial_workload(), corpus_workload())}
