"""The last-writer-wins bucket fold in Arrow, and the diff of two folds.

Every merge key's rows live in one bucket's files, so a bucket folds on
its own: read its files into one table (:func:`read_files`), then keep
one winner row per key (:func:`last_writer_wins`). Compaction and
tombstone expiry run the fold in a Spark task per bucket; the
key-restricted changelog runs it on the driver and diffs the two ends
with :func:`diff_winners`; a point lookup runs it on the driver over the
rows :func:`key_in` its key set.

Pure functions over ``pyarrow`` tables and parquet files: no Spark, no
session, so Spark tasks can carry the module by value.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def read_files(paths: list[str], types: dict[str, Any]) -> tuple[pa.Table, list[int]]:
    """(one table of the parquet files at ``paths``, in order; each file's
    row count): a bucket's files, base first, deltas in commit order.

    Timestamps come out as UTC micros: INT96 files read back as naive
    nanos, INT64 ones as UTC micros, and nanos written out again would be
    TIMESTAMP(NANOS) parquet, which Spark's vectorized reader refuses.
    ``"permissive"`` (vs ``"default"``) additionally widens numerics
    across files: pre-widen files keep their narrow physical type (type
    widening is metadata-only, mirroring the Spark read path's upcast),
    so a bucket may mix int32 and int64 pages. A column of ``types``
    (name -> Arrow type) absent from every file reads as NULL, as in the
    Spark read path."""
    utc = pa.timestamp("us", tz="UTC")
    parts = []
    for f in paths:
        part = pq.read_table(f)
        parts.append(part.cast(pa.schema([
            fld.with_type(utc) if pa.types.is_timestamp(fld.type) else fld
            for fld in part.schema
        ]), safe=False))
    tbl = pa.concat_tables(parts, promote_options="permissive")
    for c, t in types.items():
        if c not in tbl.column_names:
            tbl = tbl.append_column(c, pa.nulls(tbl.num_rows, t))
    return tbl, [p.num_rows for p in parts]


def last_writer_wins(
    tbl: pa.Table, keys: list[str], order: list[str], keep: str = "last"
) -> pa.Table:
    """The winner row per key: the max over ``order`` (``keep='last'``,
    LWW) or the min (``keep='first'``, ``first_row`` tables) — exactly
    the ``max_by``/``min_by(struct(order))`` of the Spark fold. A stable
    ascending sort on keys + order with NULLs first (Spark's struct
    ordering), then the last (first) row of each key run; lsn is a total
    order, so ties cannot occur. ``duplicated()`` puts NULL keys in one
    group, as Spark's ``groupBy`` does. Winners come out in key order."""
    kdf = tbl.select(list(keys) + list(order)).to_pandas()
    sorted_kdf = kdf.sort_values(
        list(keys) + list(order), kind="stable", na_position="first"
    )
    is_win = ~sorted_kdf.duplicated(list(keys), keep=keep).to_numpy()
    return tbl.take(pa.array(sorted_kdf.index.to_numpy()[is_win]))


def not_deleted(tbl: pa.Table) -> pa.Array:
    """Row mask: ``op`` is not ``'D'`` (a NULL ``op`` is a live row)."""
    return pc.invert(pc.fill_null(pc.equal(tbl.column("op"), "D"), False))


def key_in(tbl: pa.Table, probe: pa.Table) -> np.ndarray:
    """Row mask: ``tbl``'s ``probe.column_names`` equal some row of
    ``probe``, as Spark's ``left_semi`` join decides it: equality is not
    null-safe, so a NULL on either side matches nothing."""
    cols = probe.column_names
    valid = np.ones(probe.num_rows, dtype=bool)
    for k in cols:
        valid &= pc.is_valid(probe.column(k)).to_numpy(zero_copy_only=False)
    probe = probe.filter(pa.array(valid))
    gid = key_groups(
        pa.concat_tables([tbl.select(cols).cast(probe.schema), probe]), cols
    )
    return np.isin(gid[:tbl.num_rows], gid[tbl.num_rows:])


def key_groups(tbl: pa.Table, keys: list[str]) -> np.ndarray:
    """Per-row id of the row's key, equal iff the keys are equal
    null-safely (NULL matches NULL), with no hashing and no float cast."""
    if not tbl.num_rows:
        return np.zeros(0, dtype=np.int64)
    codes = [
        pc.dictionary_encode(tbl.column(k), null_encoding="encode")
        .combine_chunks().indices.to_numpy(zero_copy_only=False)
        for k in keys
    ]
    return np.unique(np.stack(codes, axis=1), axis=0, return_inverse=True)[1].ravel()


def _same(a: pa.ChunkedArray, b: pa.ChunkedArray) -> pa.ChunkedArray:
    """Spark's ``eqNullSafe``: NULL equals NULL, NaN equals NaN."""
    same = pc.or_(
        pc.fill_null(pc.equal(a, b), False),
        pc.and_(pc.is_null(a), pc.is_null(b)),
    )
    if pa.types.is_floating(a.type):
        nan = pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False)
        same = pc.or_(same, nan)
    return same


def diff_winners(
    prev: pa.Table,
    cur: pa.Table,
    keys: list[str],
    compare_cols: list[str],
    ts_col: str,
    before_cols: list[str] | None,
    lsn_start: int,
) -> pa.Table:
    """I/U/D rows between two folded ends, by the rules of
    :func:`~data_services_spark.sources.change_capture.snapshot_diff`:
    a null-safe full outer join on ``keys``; I when only ``cur`` has the
    key, D when only ``prev`` has it, U when a ``compare_cols`` value
    differs null-safely (a side holds a key when it has a row for it, so
    a NULL key column still counts as present); keys and ``ts_col``
    coalesce ``cur`` over ``prev``; ``_prev_<col>``
    carries ``prev``'s value for each of ``before_cols``. Rows come out
    in key order (ascending, NULLs first, strings by byte) with dense
    ``lsn`` from ``lsn_start`` — the order the Spark diff ranks by."""
    n_p = prev.num_rows
    gid = key_groups(pa.concat_tables([prev.select(keys), cur.select(keys)]), keys)
    n_g = int(gid.max()) + 1 if gid.size else 0
    at_p = np.full(n_g, -1, dtype=np.int64)
    at_c = np.full(n_g, -1, dtype=np.int64)
    at_p[gid[:n_p]] = np.arange(n_p)
    at_c[gid[n_p:]] = np.arange(cur.num_rows)
    p = prev.take(pa.array(at_p, mask=at_p < 0)).combine_chunks()
    c = cur.take(pa.array(at_c, mask=at_c < 0)).combine_chunks()

    in_prev = pa.array(at_p >= 0)
    in_cur = pa.array(at_c >= 0)
    changed = pa.array(np.zeros(n_g, dtype=bool))
    for col in compare_cols:
        changed = pc.or_(changed, pc.invert(_same(p.column(col), c.column(col))))
    op = pc.if_else(
        pc.and_(in_cur, pc.invert(in_prev)), "I",
        pc.if_else(
            pc.and_(in_prev, pc.invert(in_cur)), "D",
            pc.if_else(changed, "U", pa.scalar(None, pa.string())),
        ),
    )
    cols = {k: pc.coalesce(c.column(k), p.column(k)) for k in keys}
    cols.update({col: c.column(col) for col in compare_cols})
    cols[ts_col] = pc.coalesce(c.column(ts_col), p.column(ts_col))
    cols["op"] = op
    cols.update({f"_prev_{col}": p.column(col) for col in before_cols or []})
    out = pa.table(cols).filter(pc.is_valid(op))
    out = out.take(pc.sort_indices(
        out, sort_keys=[(k, "ascending") for k in keys], null_placement="at_start"
    ))
    lsn = pa.array(np.arange(lsn_start, lsn_start + out.num_rows, dtype=np.int64))
    # like withColumn: a table's own lsn column is overwritten in place
    if "lsn" in out.column_names:
        return out.set_column(out.column_names.index("lsn"), "lsn", lsn)
    return out.append_column("lsn", lsn)
