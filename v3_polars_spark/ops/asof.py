"""As-of (time-travel) joins and lookups — L1 ops J2/J3 from SURVEY.md §2.3.

PySpark has no native as-of join; ``asof_join`` implements the backward
strategy (for each left row, the last right row with ``right.on <= left.on``,
matching Polars ``join_asof`` defaults, reference
v3/helpers/pool_helpers.py:202) as a pure DataFrame composition:

    union both sides with a side marker
    -> window last(right_cols, ignorenulls=True) ordered by (on, marker)
    -> keep left rows

This is shuffle-optimal: ONE shuffle (the window sort), no join explosion,
no range-join quadratic blowup. With ``by`` keys the window is
``partitionBy(by)`` and parallelizes across keys; without ``by`` it is a
single total order — callers at scale should pass ``by`` (e.g. chain/pool)
or accept the documented single-task sort, which AQE cannot split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None = None,
    strategy: str = "backward",
    tiebreak: list[str] | None = None,
    emit_matched_on: str | None = None,
    tolerance: float | None = None,
) -> DataFrame:
    """Backward/forward/nearest as-of join (J2; the full Polars
    ``join_asof`` strategy surface).

    Columns of ``right`` other than ``on``/``by``/``tiebreak`` are appended
    to ``left`` rows with the value in force at the left row's ``on``
    (backward: last right value with ``on_r <= on_l``; forward: next with
    ``on_r >= on_l``; nearest: whichever of the two is closer in ``on``,
    equidistant ties taking the backward match). ``emit_matched_on`` names
    an extra output column carrying the matched right row's ``on``.

    Determinism: ties between multiple right rows at the same ``on`` take
    the one greatest in ``tiebreak`` order (the row ``dedup_last(keys=[by,
    on], order=tiebreak)`` would keep — fused here into the ONE window
    shuffle instead of paying a separate pre-dedup exchange). Without
    ``tiebreak``, ties resolve to the right row latest in (on, side) order;
    callers needing determinism pass ``tiebreak`` or pre-dedup (the
    reference pre-dedups: group_by(ts).last() before join_asof, reference
    v3/helpers/pool_helpers.py:144-146).

    ``nearest`` composes the backward and forward passes (two window
    shuffles on the same partitioning) and selects per row by distance —
    still no range-join explosion.

    ``tolerance`` (pandas ``merge_asof`` parity): a match farther than
    ``tolerance`` in ``on`` units is treated as no match (value columns
    NULL). Requires a numeric ``on`` (the engine's canonical order keys —
    ``as_of``, epoch micros — are numeric); pure post-projection, adds no
    shuffle.
    """
    if strategy == "nearest":
        return _asof_nearest(
            left, right, on, by, tiebreak, emit_matched_on, tolerance
        )
    if strategy not in ("backward", "forward"):
        raise ValueError(f"unsupported asof strategy: {strategy}")
    by = by or []
    tiebreak = tiebreak or []
    value_cols = [
        c for c in right.columns if c != on and c not in by and c not in tiebreak
    ]
    clash = [c for c in value_cols if c in left.columns]
    if clash:
        raise ValueError(f"right value columns clash with left: {clash}")

    # Side marker orders right rows BEFORE left rows at equal `on`, so an
    # exactly-equal right timestamp is visible to the left row (<= semantics).
    # Tiebreak columns ride along under internal names (they may clash with
    # left columns — e.g. both sides carrying an event id); left rows hold
    # NULL, which is irrelevant to ordering because the side marker already
    # separates the sides at equal `on`.
    tb_names = [f"__asof_tb{i}" for i in range(len(tiebreak))]
    left_tagged = left.withColumn(_SIDE, F.lit(1))
    for c in value_cols:
        left_tagged = left_tagged.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    for c, tb in zip(tiebreak, tb_names):
        left_tagged = left_tagged.withColumn(tb, F.lit(None).cast(right.schema[c].dataType))
    # Polars join_asof never matches null keys; Spark's nulls-first ascending
    # sort would otherwise let a null-`on` right row propagate to every left
    # row before the first real right row.
    right_tagged = right.filter(F.col(on).isNotNull()).withColumn(_SIDE, F.lit(0))
    for c, tb in zip(tiebreak, tb_names):
        right_tagged = right_tagged.withColumn(tb, F.col(c))
    for c in left.columns:
        if c not in right_tagged.columns:
            right_tagged = right_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    cols = left.columns + value_cols + tb_names + [_SIDE]
    unioned = left_tagged.select(*cols).unionByName(right_tagged.select(*cols))

    # Pack ALL value columns into one struct that is NULL on left rows:
    # per-column last(ignorenulls) would stitch fields from DIFFERENT right
    # rows whenever a right value is null — join_asof semantics take the
    # matched ROW as a unit, nulls included.
    vals = F.when(
        F.col(_SIDE) == 0,
        F.struct(*[F.col(c) for c in value_cols], F.col(on).alias("__on")),
    ).otherwise(F.lit(None))
    unioned = unioned.withColumn("__vals", vals)

    tb_order = [F.col(tb).asc() for tb in tb_names]
    if strategy == "backward":
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col(_SIDE).asc(), *tb_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).desc(), F.col(_SIDE).asc(), *tb_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    filled = F.last(F.col("__vals"), ignorenulls=True).over(w)

    keep = [c for c in left.columns]
    matched_on_name = emit_matched_on or ("__asof_m_on" if tolerance is not None else None)
    extra = (
        [filled.getField("__on").alias(matched_on_name)] if matched_on_name else []
    )
    out = (
        unioned.select(
            *keep,
            F.col(_SIDE),
            *[filled.getField(c).alias(c) for c in value_cols],
            *extra,
        )
        .filter(F.col(_SIDE) == 1)
        .drop(_SIDE)
    )
    if tolerance is not None:
        m = F.col(matched_on_name)
        dist = (F.col(on) - m) if strategy == "backward" else (m - F.col(on))
        ok = m.isNotNull() & (dist <= F.lit(tolerance))
        out = out.select(
            *keep,
            *[F.when(ok, F.col(c)).alias(c) for c in value_cols],
            *([F.when(ok, m).alias(emit_matched_on)] if emit_matched_on else []),
        )
    return out


def _asof_nearest(left, right, on, by, tiebreak, emit_matched_on, tolerance=None):
    """Nearest-strategy composition: backward pass (value cols under
    internal names) → forward pass → per-row distance pick."""
    value_cols = [
        c
        for c in right.columns
        if c != on and c not in (by or []) and c not in (tiebreak or [])
    ]
    b_names = {c: f"__asof_b_{c}" for c in value_cols}
    b = asof_join(
        left, right, on, by, "backward", tiebreak, emit_matched_on="__asof_b_on"
    )
    for c, bc in b_names.items():
        b = b.withColumnRenamed(c, bc)
    f = asof_join(
        b, right, on, by, "forward", tiebreak, emit_matched_on="__asof_f_on"
    )
    b_on, f_on = F.col("__asof_b_on"), F.col("__asof_f_on")
    use_b = f_on.isNull() | (
        b_on.isNotNull() & ((F.col(on) - b_on) <= (f_on - F.col(on)))
    )
    chosen_on = F.when(use_b, b_on).otherwise(f_on)
    within = (
        F.lit(True)
        if tolerance is None
        else chosen_on.isNotNull()
        & (F.abs(F.col(on) - chosen_on) <= F.lit(tolerance))
    )
    picked = [
        F.when(within & use_b, F.col(bc))
        .when(within & ~use_b, F.col(c))
        .alias(c)
        for c, bc in b_names.items()
    ]
    extra = (
        [F.when(within, chosen_on).alias(emit_matched_on)] if emit_matched_on else []
    )
    return f.select(*left.columns, *picked, *extra)


def asof_join_same_source(
    df: DataFrame,
    left_filter: Column,
    right_filter: Column,
    on: str,
    by: list[str],
    values: dict[str, str],
    tiebreak: list[str],
) -> DataFrame:
    """Backward as-of join where BOTH sides are row-subsets of ONE frame —
    the common "events of type A against events of type B" shape.

    Result-identical to the union formulation

        asof_join(df.filter(left_filter),
                  df.filter(right_filter)
                    .select(*by, on, *tiebreak,
                            *[F.col(s).alias(o) for s, o in values.items()]),
                  on, by, "backward", tiebreak)

    (equivalence pinned by tests/test_ops.py::test_asof_same_source_*),
    but computed as ONE running-``last`` window over the single frame,
    ordered ``(on, right-rows-first, tiebreak)`` — the union form's row
    ordering, reproduced in place. The union's concatenated partitioning
    is unknown to Spark, so its window costs a full EXCHANGE + sort of
    both sides every run; here the ``by``-clustered source (the engine's
    keyed cache layout — and, at rest, a bucketed table) satisfies the
    window's distribution outright: ZERO query-time exchanges, one
    in-partition sort. (A sort-free two-window variant — running last on
    the cache's own ``(on, tiebreak)`` order plus a grouped
    greatest-at-equal-``on`` override — was measured SLOWER at both
    bench scales: the second window-buffer pass over the full frame
    costs more than the in-partition sort it avoids. Paired A/B sf0.1:
    0.113 vs 0.140 s min; sf1: 0.73 vs 0.94 s.)

    Ordering right rows before left rows at equal ``on`` makes every
    right row at the left row's exact ``on`` visible to it (as-of ``<=``
    semantics), with ties resolved to the greatest ``tiebreak`` — the
    generic op's side-marker construction. ``tiebreak`` must order right
    rows totally within ``(by, on)`` (the engine's unique-key
    convention). Right rows with NULL ``on`` never match (Polars
    join_asof parity; their packed struct is NULL, which the running
    ``last(ignorenulls)`` skips — and NULL-``on`` left rows sort before
    every real ``on``, so they see no match either). Output: every
    ``df.filter(left_filter)`` row with all ``df`` columns plus one
    column per ``values`` entry (source column → new output name; output
    names must not clash with ``df`` columns)."""
    clash = [o for o in values.values() if o in df.columns]
    if clash:
        raise ValueError(f"output value columns clash with source: {clash}")
    srcs = list(values)
    fields = [f"__v{i}" for i in range(len(srcs))]  # tiebreak-clash-proof
    right_ok = right_filter & F.col(on).isNotNull()
    val_struct = F.when(
        right_ok,
        F.struct(*[F.col(s).alias(f) for s, f in zip(srcs, fields)]),
    ).otherwise(F.lit(None))
    w = (
        Window.partitionBy(*by)
        .orderBy(
            F.col(on).asc(),
            # right rows first at equal on; a NULL right_filter is "not a
            # right row", never a NULL marker sorting before the right rows
            F.when(right_ok, 0).otherwise(1).asc(),
            *[F.col(t).asc() for t in tiebreak],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(val_struct, ignorenulls=True).over(w)
    picked = [
        matched.getField(f).alias(values[s]) for s, f in zip(srcs, fields)
    ]
    return df.select(*df.columns, *picked).filter(left_filter)


def asof_lookup(
    df: DataFrame,
    order_col: str,
    at,
    columns: list[str] | None = None,
    strict: bool = True,
) -> DataFrame:
    """Point as-of lookup (J3): the row in force just before ``at``.

    Reference: ``filter(as_of < X).tail(1)`` (v3/state.py:204-209). Spark
    shape: filter + orderBy desc + limit 1 — the filter is pushed into the
    parquet scan (row-group min/max pruning) and sort+limit-1 is a TakeOrdered,
    no full sort. Strict ``<`` preserves the reference's "value BEFORE the
    transaction at that index" contract (SURVEY.md §8.2).
    """
    cmp = F.col(order_col) < F.lit(at) if strict else F.col(order_col) <= F.lit(at)
    out = df.filter(cmp).orderBy(F.col(order_col).desc()).limit(1)
    if columns:
        out = out.select(*columns)
    return out


def asof_lookup_scalar(df: DataFrame, order_col: str, at, column: str):
    """Driver-scalar variant of ``asof_lookup`` — returns the Python value
    or None if the history is empty (reference v3/state.py:210-214)."""
    rows = asof_lookup(df, order_col, at, columns=[column]).collect()
    return rows[0][0] if rows else None
