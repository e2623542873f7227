"""Declarative data-validation checks — the expectations layer.

Every production warehouse runs rule suites against landed tables
(dbt tests, Great Expectations): null-rate ceilings, key uniqueness,
accepted value domains, referential integrity. As relational algebra
each rule is one aggregate or one anti-join, so a whole suite compiles
to a handful of scans whose outputs are single-row counts — the report
is rules-sized no matter how big the table.

Each check builder returns a ``Check`` spec; ``run_checks`` compiles a
suite into one report frame ``(rule, n_checked, n_violations, passed)``.
Single-table aggregate checks that share a source DataFrame are FUSED
into one aggregation pass over that table (guide §2.4 — don't scan the
same data once per rule): a 6-rule suite with four orders-side rules
runs one orders scan instead of four. Each rule keeps its own
``n_checked``/``n_violations`` columns inside the fused pass; the report
rows are identical to running the rules separately (fusion may reorder
rows across rules — consumers key on ``rule``, and the per-row content
is byte-identical). Scale notes per rule:

- not_null / accepted_values / range: map-side aggregable conditional
  counts — fused, still one scan, no shuffle beyond the final 1-row agg.
- unique: count - countDistinct on the key; exact, the same shuffle an
  analytic query on that key pays anyway (inside a fused pass the
  distinct triggers Spark's Expand-based mixed-distinct aggregation —
  still a single scan of the source).
- referential: LEFT ANTI join child→parent on the key — broadcastable
  when the parent's key column is dimension-sized, shuffle join
  otherwise; violations counted, never materialized wide. Not fusable
  (two-table), reported as its own frame.

``run_checks`` also accepts raw one-row DataFrames alongside ``Check``
specs, so custom rules compose with the built-ins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(eq=False)
class Check:
    """One validation rule: either a fusable single-table aggregate
    (``df`` + the two aggregate columns) or a prebuilt one-row report
    ``frame`` (two-table rules like referential integrity)."""

    rule: str
    df: DataFrame | None = None
    n_checked: Column | None = None
    n_violations: Column | None = None
    frame: DataFrame | None = None

    def to_frame(self) -> DataFrame:
        """The rule's standalone one-row report (unfused form)."""
        if self.frame is not None:
            return self.frame
        return self.df.agg(
            F.lit(self.rule).alias("rule"),
            self.n_checked.cast("long").alias("n_checked"),
            self.n_violations.cast("long").alias("n_violations"),
            (self.n_violations == 0).alias("passed"),
        )


def check_not_null(df: DataFrame, col: str) -> Check:
    """Rows where ``col`` IS NULL are violations."""
    return Check(
        f"not_null:{col}",
        df,
        F.count(F.lit(1)),
        F.count(F.when(F.col(col).isNull(), 1)),
    )


def check_unique(df: DataFrame, cols: list[str]) -> Check:
    """Duplicate (beyond-first) rows per key tuple are violations.
    NULL-containing keys participate via null-safe distinctness, exactly
    like ``GROUP BY``."""
    key = F.struct(*[F.col(c) for c in cols])
    return Check(
        "unique:" + ",".join(cols),
        df,
        F.count(F.lit(1)),
        F.count(F.lit(1)) - F.countDistinct(key),
    )


def check_accepted_values(df: DataFrame, col: str, values: list) -> Check:
    """Non-NULL values outside ``values`` are violations (NULL is
    not_null's business, not this rule's)."""
    return Check(
        f"accepted_values:{col}",
        df,
        F.count(F.lit(1)),
        F.count(
            F.when(F.col(col).isNotNull() & ~F.col(col).isin(values), 1)
        ),
    )


def check_range(df: DataFrame, col: str, lo, hi) -> Check:
    """Non-NULL values outside [lo, hi] are violations."""
    return Check(
        f"range:{col}",
        df,
        F.count(F.lit(1)),
        F.count(
            F.when(
                F.col(col).isNotNull()
                & ((F.col(col) < lo) | (F.col(col) > hi)),
                1,
            )
        ),
    )


def check_referential(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
) -> Check:
    """Non-NULL child keys with no matching parent key are violations
    (SQL FK semantics: NULL child keys pass)."""
    orphans = (
        child.filter(F.col(child_col).isNotNull())
        .select(child_col)
        .join(
            parent.select(F.col(parent_col).alias(child_col)).distinct(),
            child_col,
            "left_anti",
        )
    )
    total = child.agg(F.count(F.lit(1)).alias("n"))
    bad = orphans.agg(F.count(F.lit(1)).alias("v"))
    frame = total.crossJoin(bad).select(
        F.lit(f"referential:{child_col}").alias("rule"),
        F.col("n").cast("long").alias("n_checked"),
        F.col("v").cast("long").alias("n_violations"),
        (F.col("v") == 0).alias("passed"),
    )
    return Check(f"referential:{child_col}", frame=frame)


def _fused_frame(df: DataFrame, checks: list[Check]) -> DataFrame:
    """One aggregation pass over ``df`` computing every rule's counters,
    emitted as one report row per rule (array-of-structs agg + explode —
    aggregate expressions are legal inside the struct fields, Spark
    extracts them into the single Aggregate)."""
    arr = F.array(
        *[
            F.struct(
                F.lit(c.rule).alias("rule"),
                c.n_checked.cast("long").alias("n_checked"),
                c.n_violations.cast("long").alias("n_violations"),
            )
            for c in checks
        ]
    )
    return (
        df.agg(arr.alias("__checks"))
        .select(F.explode("__checks").alias("__c"))
        .select(
            "__c.rule",
            "__c.n_checked",
            "__c.n_violations",
            (F.col("__c.n_violations") == 0).alias("passed"),
        )
    )


def run_checks(checks: list) -> DataFrame:
    """Compile a suite into one report frame. Fusable single-table checks
    sharing a source DataFrame run as ONE aggregation pass over it;
    prebuilt frames (referential, custom rules, raw one-row DataFrames)
    pass through. The report holds exactly one row per rule; row order
    follows first appearance of each rule's source."""
    frames: list[DataFrame] = []
    buckets: dict[int, tuple[DataFrame, list[Check]]] = {}
    order: list[tuple[str, object]] = []  # ("bucket", id) | ("frame", df)
    for c in checks:
        if isinstance(c, Check) and c.frame is None:
            key = id(c.df)
            if key not in buckets:
                buckets[key] = (c.df, [])
                order.append(("bucket", key))
            buckets[key][1].append(c)
        else:
            order.append(
                ("frame", c.to_frame() if isinstance(c, Check) else c)
            )
    for kind, payload in order:
        if kind == "bucket":
            df, group = buckets[payload]
            frames.append(
                group[0].to_frame() if len(group) == 1 else _fused_frame(df, group)
            )
        else:
            frames.append(payload)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
