"""SQL surface: register the event tables (and derived as-of views) as
temp views so every query in this engine is reachable from ``spark.sql``.

The reference exposes only a Python API; Spark gives us the SQL runtime
for free — the same Catalyst plans serve both. ``register_tables`` is the
one-call setup; the docstring examples are the §2 composite queries in
their SQL form (same plans as the DataFrame builders, verified in tests).
"""

from __future__ import annotations

import hashlib
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from . import tables as T

VIEWS = {
    "factory_pool_created": "factory",
    "pool_initialize_events": "initialize_events",
    "pool_swap_events": "swaps",
    "pool_mint_burn_events": "mint_burns",
}


def register_tables(
    spark: SparkSession, data_path: str, suffix: str = ""
) -> list[str]:
    """Create temp views over a landed event-table directory.

    - ``swaps{suffix}`` / ``mint_burns{suffix}``: prepared by
      ``tables.typed_events``, the reader ``Pool`` uses (mint/burn numeric
      casts, then the ``as_of`` total-order key — reference
      v3/state.py:135-167);
    - ``factory{suffix}`` / ``initialize_events{suffix}``: raw.

    Returns the view names. Example SQL (same plan as create_liq):

        SELECT tick, SUM(delta) OVER (ORDER BY tick
                                      ROWS UNBOUNDED PRECEDING) AS liquidity
        FROM (
            SELECT COALESCE(tl.tick, tu.tick) AS tick,
                   COALESCE(l, 0) + COALESCE(u, 0) AS delta
            FROM (SELECT tick_lower AS tick,
                         SUM(CAST(amount AS DOUBLE) * type_of_event) AS l
                  FROM mint_burns WHERE chain_name = ? AND address = ?
                    AND as_of < ? GROUP BY 1 HAVING SUM(...) != 0) tl
            FULL OUTER JOIN (...) tu USING (tick)
        )
    """
    names = []
    for table, base in VIEWS.items():
        name = f"{base}{suffix}"
        df = T.read_table(spark, data_path, table)
        T.typed_events(df, table).createOrReplaceTempView(name)
        names.append(name)
    return names


def register_testdata(
    spark: SparkSession,
    sf_dir: str,
    loader: Callable[[SparkSession, str, str], DataFrame],
    table_names: tuple[str, ...] = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ),
) -> dict[str, str]:
    """Register the analytics tables as temp views so any portable SQL
    string runs through ``spark.sql`` against the same (cached) frames
    the DataFrame queries use.

    View names are suffixed with a hash of ``sf_dir`` so one session can
    serve several data directories without view collisions; returns the
    {logical name -> view name} mapping for ``str.format`` substitution
    into SQL templates.
    """
    sfx = "_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out = {}
    for t in table_names:
        df = loader(spark, sf_dir, t)
        view = f"{t}{sfx}"
        df.createOrReplaceTempView(view)
        out[t] = view
    return out


# --------------------------------------------------------------------------
# SQL macros for the L1 library operators (SURVEY §7 last mile): portable
# ANSI templates a SQL-only user can run verbatim on spark.sql — and that
# the oracle harness runs verbatim on DuckDB, so every macro is
# cross-engine-proven every round. Spark has no SQL-defined table
# functions, and a Python UDTF would drop the plan out of codegen; a
# template generator keeps the SQL surface on the exact Catalyst plans the
# DataFrame API uses (parity pinned in tests/test_sql_surface.py).
# --------------------------------------------------------------------------


def _cols(cs) -> str:
    return ", ".join(cs)


def dedup_last_sql(
    table: str, keys: list[str], order: list[str], cols: list[str]
) -> str:
    """SQL form of ``ops.dedup_last`` (A2): latest row per ``keys`` by
    ``order`` (descending, later entries tiebreak). ROW_NUMBER form — the
    portable ANSI spelling; the DataFrame op compiles to a max_by hash agg
    instead (one exchange, no sort) which Spark SQL cannot express for
    multi-column payloads portably. Values are identical; the plan is the
    price of staying in pure SQL."""
    ordr = ", ".join(f"{c} DESC" for c in order)
    return (
        f"SELECT {_cols(cols)} FROM ("
        f"SELECT {_cols(cols)}, ROW_NUMBER() OVER ("
        f"PARTITION BY {_cols(keys)} ORDER BY {ordr}) AS __rn "
        f"FROM {table}) __d WHERE __rn = 1"
    )


def asof_join_sql(
    left: str,
    right: str,
    on: str,
    by: list[str],
    values: list[str],
    left_cols: list[str],
    strategy: str = "backward",
    tiebreak: list[str] | None = None,
    dialect: str = "portable",
) -> str:
    """SQL form of ``ops.asof_join`` (J2), backward/forward, same
    algorithm as the DataFrame op: union the sides, then a last-non-null
    window fill on ``by``.

    ``dialect`` picks the fill spelling — the engines disagree on IGNORE
    NULLS placement:

    - ``"spark"`` / ``"duckdb"``: ONE window (``LAST_VALUE ... IGNORE
      NULLS`` in each engine's syntax) — one shuffle exchange, the exact
      plan shape of the DataFrame op. Use these when you know the engine
      (the Spark entry queries use ``spark``; the DuckDB oracle runs
      ``duckdb``, so the two spellings are cross-engine-proven equal).
    - ``"portable"`` (default): runs verbatim on both engines via the
      two-window group-fill — a running count of right rows assigns each
      left row the group of the right row in force, and a per-group MAX
      recovers that row's values (each group holds exactly one right
      row; group 0 = no match = NULL, LEFT-join semantics). Costs a
      second exchange (the fill window partitions by (by, __grp)).

    Ties at the same ``on`` resolve to the greatest ``tiebreak`` — the
    dedup_last(keys=[by,on]) survivor — matching the DataFrame op;
    ``tiebreak`` names RIGHT-side columns (carried through the union
    under reserved ``__tb*`` names so they never collide with
    ``left_cols``) and must totally order right rows within (by, on) for
    a deterministic result.
    """
    if strategy not in ("backward", "forward"):
        raise ValueError(f"asof_join_sql: unsupported strategy {strategy!r}")
    if dialect not in ("portable", "spark", "duckdb"):
        raise ValueError(f"asof_join_sql: unsupported dialect {dialect!r}")
    desc = " DESC" if strategy == "forward" else ""
    tb_names = [f"__tb{i}" for i in range(len(tiebreak or []))]
    tb = "".join(f", {n}" for n in tb_names)
    l_tb = "".join(f", NULL AS {n}" for n in tb_names)
    r_tb = "".join(f", {c} AS {n}" for c, n in zip(tiebreak or [], tb_names))
    l_null_vals = ", ".join(f"NULL AS {v}" for v in values)
    r_null_lcols = ", ".join(f"NULL AS {c}" for c in left_cols)
    union = f"""
            SELECT {_cols(by)}, {on}, {_cols(left_cols)}, {l_null_vals},
                   1 AS __side{l_tb} FROM {left}
            UNION ALL
            SELECT {_cols(by)}, {on}, {r_null_lcols}, {_cols(values)},
                   0 AS __side{r_tb} FROM {right}
    """
    # NOTE the side filter always lives one query block ABOVE the fill:
    # WHERE evaluates before window functions inside a block, so filtering
    # in the fill's own block would hide every right row from the fill.
    if dialect != "portable":
        frame = (
            f"OVER (PARTITION BY {_cols(by)} ORDER BY {on}{desc}, __side{tb} "
            "ROWS UNBOUNDED PRECEDING)"
        )
        fills = ", ".join(
            f"LAST_VALUE({v} IGNORE NULLS) {frame} AS {v}"
            if dialect == "duckdb"
            else f"LAST_VALUE({v}) IGNORE NULLS {frame} AS {v}"
            for v in values
        )
        return f"""
        SELECT {_cols(by)}, {on}, {_cols(left_cols)}, {_cols(values)}
        FROM (
            SELECT {_cols(by)}, {on}, {_cols(left_cols)}, __side, {fills}
            FROM ({union}) __u
        ) __f
        WHERE __side = 1
        """
    out_vals = ", ".join(
        f"MAX({v}) OVER (PARTITION BY {_cols(by)}, __grp) AS {v}" for v in values
    )
    return f"""
    SELECT {_cols(by)}, {on}, {_cols(left_cols)}, {_cols(values)}
    FROM (
        SELECT {_cols(by)}, {on}, {_cols(left_cols)}, __side, {out_vals}
        FROM (
            SELECT *, SUM(CASE WHEN __side = 0 THEN 1 ELSE 0 END) OVER (
                PARTITION BY {_cols(by)}
                ORDER BY {on}{desc}, __side{tb}
                ROWS UNBOUNDED PRECEDING) AS __grp
            FROM ({union}) __u
        ) __w
    ) __f
    WHERE __side = 1
    """


def resample_sql(
    table: str, ts_col: str, every_hours: int, aggs: dict[str, str]
) -> str:
    """SQL form of ``ops.resample`` (A3) for tumbling windows of
    ``every_hours`` dividing 24 (epoch-aligned — identical buckets to the
    op's integer fast path). Portable bucket arithmetic: neither engine's
    epoch function parses on the other (unix_timestamp vs epoch), but
    date_trunc + EXTRACT(HOUR) + interval multiply run verbatim on both.
    ``aggs`` maps output alias -> SQL aggregate expression."""
    if 24 % every_hours:
        raise ValueError("resample_sql: every_hours must divide 24")
    agg_sql = ", ".join(f"{expr} AS {alias}" for alias, expr in aggs.items())
    bucket = (
        f"CAST(date_trunc('day', {ts_col}) AS TIMESTAMP) + "
        f"(CAST(FLOOR(EXTRACT(HOUR FROM {ts_col}) / {every_hours}) AS INTEGER)"
        f" * INTERVAL '{every_hours}' HOUR)"
    )
    return (
        f"SELECT {bucket} AS bucket_ts, {agg_sql} FROM {table} "
        f"GROUP BY {bucket}"
    )
