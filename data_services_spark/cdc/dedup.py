"""Last-writer-wins dedup — the core CDC operator.

Semantics (north_star): one surviving row per ``(conv_id, turn_idx)``,
chosen by max ``(ts, lsn)`` — event-time order with the LSN as total-order
tiebreaker (reference precedent: BOM ingest sorts by timestamp and
drop-duplicates per source, ``ardc_nrt/lib/bom/wfs.py:100-112``; the
reference *rejects* tied batches, we resolve them deterministically).

Physical plan: ``groupBy(keys).agg(max_by(payload, struct(order)))``.
Catalyst plans it as partial aggregation with map-side combine, so a hot
key's millions of duplicate events collapse to at most one partial per map
partition *before* the shuffle — skew is absorbed at the task layer, no
salting, no sort, no window buffer. The same fold resolves merge-on-read
delta layers in ``LakeTable.read``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import KEY_COLS, ORDER_COLS


def _order_struct(order: Sequence[str]) -> F.Column:
    return F.struct(*[F.col(c) for c in order])


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str] = tuple(KEY_COLS),
    order: Sequence[str] = tuple(ORDER_COLS),
    keep: str = "last",
) -> DataFrame:
    """Return one row per key: the last writer under ``order``.

    Output columns == input columns (payload of the winning row).
    ``keep='first'`` flips the fold to first-writer-wins (``min_by`` over
    the order) — the resolution rule of ``merge_engine='first_row'``
    tables; min is as map-side combinable, idempotent, and
    arrival-order-free as max, so all the composition properties carry.
    """
    if keep not in ("last", "first"):
        raise ValueError(f"keep must be 'last' or 'first', got {keep!r}")
    keys = list(keys)
    payload_cols = [c for c in df.columns if c not in keys]
    payload = F.struct(*[F.col(c) for c in payload_cols])
    _by = F.min_by if keep == "first" else F.max_by
    agg = df.groupBy(*keys).agg(_by(payload, _order_struct(order)).alias("_w"))
    return agg.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])


#: merge functions accepted by ``merge_engine='aggregation'`` tables —
#: every one is commutative + associative over its carried state (value, or
#: (rank, value) for the positional pair), so chunk pre-folds, compaction
#: folds, and the read fold compose exactly under ANY arrival order and any
#: chunking. That algebra is the whole design: a folded partial row merges
#: with raw events through the same expressions that merged the raw events.
AGG_FUNCTIONS = (
    "sum", "min", "max", "bool_or", "bool_and",
    "last_non_null", "first_non_null",
)

#: functions whose fold needs to remember WHEN the surviving value was
#: written (the positional pair) — their per-column rank rides the hidden
#: ``_wr`` struct engine-side, exactly like partial_update's writer ranks
RANKED_AGG_FUNCTIONS = ("last_non_null", "first_non_null")


def aggregation_merge(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    functions: dict[str, str],
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Aggregation merge — the Apache Paimon ``aggregation`` merge-engine
    semantics, resolved set-at-a-time: one output row per key whose payload
    columns are per-column AGGREGATES over every contributing event, not
    the last writer's values. The running-total table shape (per-conv token
    counts, message counts, error flags) maintained by the change stream
    itself, no separate rollup job.

    ``functions`` maps payload column → one of :data:`AGG_FUNCTIONS`;
    unlisted payload columns default to ``last_non_null`` (Paimon's
    default). NULL values never update an aggregate (Paimon semantics):
    ``sum``/``min``/``max``/``bool_or``/``bool_and`` are the built-in
    null-skipping aggregates; ``last_non_null``/``first_non_null`` take
    the value written latest/earliest under ``order`` among non-null
    writes. The output ``order`` columns stamp the latest contribution
    (the row's "last updated" mark). Delete events are NOT accepted by
    this engine (Paimon parity): an aggregate cannot retract a
    contribution exactly under out-of-order redelivery, so the engine
    path quarantines op='D' rather than corrupt totals silently.

    Physical plan: ONE aggregation — every function is a single built-in
    agg or a ``max``/``min`` over a (rank, value) struct, all of which
    Catalyst partially aggregates map-side, so a hot key's event storm
    collapses before the shuffle exactly like LWW.
    """
    keys = list(keys)
    order = list(order)
    if payload is None:
        payload = [
            c for c in df.columns
            if c not in keys and c not in order and c != "op"
        ]
    payload = list(payload)
    fns = {c: functions.get(c, "last_non_null") for c in payload}
    bad = {c: f for c, f in fns.items() if f not in AGG_FUNCTIONS}
    if bad:
        raise ValueError(
            f"unknown aggregation functions {bad}; each must be one of "
            f"{AGG_FUNCTIONS}"
        )
    unknown = [c for c in functions if c not in payload]
    if unknown:
        raise ValueError(
            f"agg_functions name non-payload columns {unknown} "
            f"(payload: {payload})"
        )
    rank = _order_struct(order)
    aggs = [F.max(rank).alias("_ord")]
    for c in payload:
        fn = fns[c]
        if fn in ("last_non_null", "first_non_null"):
            pair = F.when(
                F.col(c).isNotNull(), F.struct(rank.alias("r"), F.col(c).alias("v"))
            )
            agg = F.max(pair) if fn == "last_non_null" else F.min(pair)
            aggs.append(agg.getField("v").alias(c))
        else:
            aggs.append(getattr(F, fn)(F.col(c)).alias(c))
    g = df.groupBy(*keys).agg(*aggs)
    return g.select(
        *keys, *payload, *[F.col(f"_ord.{o}").alias(o) for o in order]
    )


def partial_update_merge(
    df: DataFrame,
    keys: Sequence[str] = tuple(KEY_COLS),
    order: Sequence[str] = tuple(ORDER_COLS),
    op_col: str = "op",
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Partial-update (patch) merge — Debezium sparse updates / the Apache
    Paimon ``partial-update`` merge-engine semantics, resolved set-at-a-time:

    * ``U`` writes EVERY payload column (a NULL in a U is an explicit
      reset), and (re)creates the row;
    * ``P`` writes only its NON-NULL payload columns and never creates a
      row — a patch to an absent key is dropped;
    * ``D`` deletes the row; later patches stay dropped until the next U.

    Final state per key: take ``r0`` = the latest U/D event under
    ``order``. If there is none, or it is a D, the key is absent.
    Otherwise each payload column carries the value from the latest
    event at-or-after ``r0`` that WROTE that column; the output
    ``order`` columns are stamped from ``r0`` itself — the row's
    identity is its last FULL write, patches ride on top of it (so a
    later delete with event time between two patches still resolves
    exactly: liveness compares against the creation, not the patches).

    Physical plan: ONE aggregation, no window, no pre-filter — because a
    full write (U) writes EVERY column at its own rank, any patch older
    than the last U loses every per-column ``max`` to it automatically
    (U-dominance), so the ``r0`` horizon never needs materializing:

    * liveness: ``max`` over ``(rank, op)`` structs of U/D events — the
      winner IS the r0 event; alive iff its op is U;
    * column c: ``max`` over ``(rank, value)`` structs of the events
      that wrote c (U always; P when non-null — a patch cannot write
      NULL by definition, so no mask column is needed).

    Catalyst plans both as partial aggregation with map-side combine —
    a hot key's patch storm collapses before the shuffle, same as LWW.
    """
    keys = list(keys)
    order = list(order)
    if payload is None:
        payload = [
            c for c in df.columns
            if c not in keys and c not in order and c != op_col
        ]
    payload = list(payload)
    rank = _order_struct(order)
    op = F.col(op_col)

    wrote = {
        c: (op == "U") | ((op == "P") & F.col(c).isNotNull()) for c in payload
    }
    aggs = [
        F.max(F.when(op.isin("U", "D"),
                     F.struct(rank.alias("r"), op.alias("o")))).alias("_ud"),
    ] + [
        F.max(F.when(wrote[c],
                     F.struct(rank.alias("r"), F.col(c).alias("v"))))
        .alias(f"_m_{c}")
        for c in payload
    ]
    merged = df.groupBy(*keys).agg(*aggs).where(F.col("_ud.o") == "U")
    return merged.select(
        *keys,
        *[F.col(f"_m_{c}.v").alias(c) for c in payload],
        *[F.col(f"_ud.r.{o}").alias(o) for o in order],
    )
