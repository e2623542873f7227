"""Streaming training-shard packer: turn a tokenized document stream
into fixed-length packed sequences incrementally, with exactly-once
state.

The batch side (``datapipe.sampling.pack_sequences``) materializes the
concatenate-and-split layout in one job; a 100 TB ingest pipeline wants
the same layout maintained AS DOCUMENTS LAND, without repacking the
corpus per trigger. Per micro-batch (``foreachBatch``):

1. read the carry state: the next sequence index plus the (< max_len)
   remainder tokens left by the previous trigger — ONE tiny row, never
   the shard store;
2. lay the batch's token arrays (deterministic ``id_col`` order within
   the batch — packing order is ARRIVAL order, which is the semantics of
   streaming packing) after the remainder and cut full ``max_len``
   sequences with the same ``pack_sequences`` fold the batch op uses;
3. commit the full sequences PLUS the new carry row as ONE
   ``state_store`` batch dir — a single rename, so shards and carry can
   never diverge (no window where one is visible without the other), and
   a replayed batch whose dir exists is an exactly-once no-op.

Per-trigger cost is O(batch tokens): the carry is at most ``max_len - 1``
tokens, committed shard dirs are never re-read, and the remainder math
keeps the carry offset on a ``max_len`` boundary so sequence indices are
a pure function of the arrival-ordered token stream — streamed shards
are row-identical to one batch ``pack_sequences`` over the same arrival
order (pinned in tests for in-order splits, any schedule).

``compact_packed_shards`` rewrites accumulated per-trigger dirs into
right-sized segments on the shared covers-manifest protocol
(``state_store.compact_kind``); stale carry rows are dropped at
compaction and the live carry per key is kept.

Upstream tokenization composes freely: ``datapipe.bpe.bpe_encode``'s
expression path is stateless, so ``bpe_encode(readStream(...), merges)``
feeds this packer without any extra state.

**Shard-keyed mode** (``by=`` — the 100 TB posture, mirroring
``pack_sequences(by=...)``): the two modes run ONE trigger body and
differ only in the key columns — none, or ``shard`` — that partition
the rank window, the pack layout, the sequence offsets and the carry.
Without a shard key every trigger ranks the batch with a GLOBAL
``row_number()`` window, so one task materializes every token array in
the batch before the pack redistributes — fine for the oracle-scale
stream, a single-task bottleneck at cluster scale. With ``by=<col>``
each shard is an independent packed stream ``(shard, seq, tokens)`` and
every stage runs width-parallel. Carry state is one row PER KEY (one
row for the global stream, one per live shard), carried forward in
every trigger commit (so the newest trigger dir always holds the full
carry set — the O(1) fast path needs no store scan); the shard key must
therefore be a BOUNDED partition label (hash bucket, source tag, tenant
id — never a row id). Fallback carry recovery stays provenance-free per
key: (seq, n_tokens) is monotone within a shard for the same reason it
is globally.

Measured crossover (BENCH_NOTES "shard-keyed packer trigger-size
scaling", sf1, doubling triggers 31k→281k docs): ``by=`` is ~2x
cheaper per trigger at every size with only 5 shards, and its per-doc
cost falls monotonically as triggers grow (206 → 123 us/doc) while the
global mode keeps a single-task rank/pack premium (417 → 157 us/doc).
Guidance: the global mode is fine at oracle/test scale (its rank task
is small; both modes share one code path); from ~10^4 docs per trigger,
or whenever a bounded shard label exists anyway, use ``by=`` — never
slower in the measured range, advantage widens with trigger size and
shard count.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .state_store import (
    batch_dir,
    batch_id_of,
    begin_trigger,
    commit_write,
    compact_kind,
    data_dirs,
    drain_available_now,
)

_PACKED = "packed"

_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("is_carry", T.BooleanType()),
    ]
)

# shard-keyed stores prepend the shard label (cast to string — the
# canonical partition-label type; the key is a bounded label, not data)
_SHARD = T.StructField("shard", T.StringType())
_SCHEMA_BY = T.StructType([_SHARD] + list(_SCHEMA.fields))


def read_packed_shards(spark, pack_root: str, sharded: bool = False) -> DataFrame:
    """All committed full sequences (seq, tokens, n_tokens; plus
    ``shard`` for a ``by=``-keyed store) — carry rows excluded.
    Readable mid-drain; every committed trigger is final. ``sharded``
    only fixes the schema of an EMPTY store (a non-empty store's files
    carry their own)."""
    dirs = data_dirs(pack_root, _PACKED)
    if not dirs:
        schema = _SCHEMA_BY if sharded else _SCHEMA
        return spark.createDataFrame([], schema).drop("is_carry")
    return (
        spark.read.parquet(*dirs)
        .filter(~F.col("is_carry"))
        .drop("is_carry")
    )


def _newest_carry_dirs(pack_root: str) -> list[str]:
    """Fast-path dir set for the carry readers: the newest trigger dir
    that actually CONTAINS data files. An empty trigger can commit a
    _SUCCESS-only dir (same class data_dirs guards against); globbing
    the raw newest dir would either fail the parquet read or silently
    return an empty carry set and reset every shard's seq/remainder.
    Falls back to the full committed-store scan when no trigger dir
    carries data (e.g. after a full compaction)."""
    trig = [
        d
        for d in glob.glob(os.path.join(pack_root, _PACKED, "batch=*"))
        if batch_id_of(d) >= 0 and glob.glob(os.path.join(d, "part-*"))
    ]
    return [max(trig, key=batch_id_of)] if trig else data_dirs(
        pack_root, _PACKED
    )


def _live_carries(rows: DataFrame, keys: list[str]) -> DataFrame:
    """The live carry row per key (one row for the global stream): the
    max by ``(seq, n_tokens)``. Selection is provenance-free — across
    triggers a key's carry ``(seq, n_tokens)`` is monotonically
    nondecreasing (a trigger either closes sequences, seq strictly
    grows, or extends the remainder in place)."""
    w = Window.partitionBy(*keys).orderBy(F.desc("seq"), F.desc("n_tokens"))
    return (
        rows.filter(F.col("is_carry"))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def _read_carries(spark, pack_root: str, keys: list[str]) -> dict:
    """``{key tuple: (next seq index, remainder tokens)}`` — the key
    tuple is ``()`` for the global stream, ``(shard,)`` when keyed.

    Fast path: mid-drain, the newest trigger dir alone — every trigger
    commits the FULL live carry set (untouched shards carried forward),
    so this is O(#keys) per trigger regardless of store size. Fallback
    (no trigger dirs left, e.g. after a full ``exclude_newest=False``
    compaction of a quiesced drain): the live carries of the committed
    store."""
    dirs = _newest_carry_dirs(pack_root)
    if not dirs:
        return {}
    rows = _live_carries(spark.read.parquet(*dirs), keys).collect()
    return {tuple(r[k] for k in keys): (int(r.seq), list(r.tokens)) for r in rows}


def read_pack_carry(spark, pack_root: str) -> tuple[int, list[str]]:
    """The live carry of the global stream: (next sequence index,
    remainder tokens); ``(0, [])`` before the first trigger commits."""
    return _read_carries(spark, pack_root, []).get((), (0, []))


def read_pack_carries(spark, pack_root: str) -> dict[str, tuple[int, list[str]]]:
    """Live carries of a SHARD-KEYED store: ``{shard: (next seq index,
    remainder tokens)}`` (one carry row per live shard)."""
    return {k[0]: v for k, v in _read_carries(spark, pack_root, ["shard"]).items()}


def token_pack_batch_fn(
    spark,
    pack_root: str,
    max_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "bpe_tokens",
    sep_token: str | None = None,
    by: str | None = None,
):
    """The ``foreachBatch`` function :func:`streaming_token_shards`
    runs — exposed so tests can wrap it with failure injection.
    ``by=<col>`` switches to the shard-keyed layout (see module
    docstring): per-shard rank window, per-shard sequence numbering,
    one carry row per live shard.

    One trigger body serves both modes; they differ only in the key
    columns (none, or ``shard``) that partition the rank window, the
    pack layout, the offsets and the carry — so no single task ever
    holds a shard-keyed trigger. Driver state per trigger is O(#keys):
    the per-key token totals (a bounded collect) and the <max_len-token
    tails.

    The trigger runs THREE actions (totals collect, data write, tails
    collect); the ranked projection is persisted so all three see ONE
    materialization of the row_number ranks — without it, duplicate
    ``id_col`` values within a key could tie-break differently across
    recomputations and commit a carry inconsistent with the written
    sequences (token loss/duplication). ``id_col`` should still be
    unique per key: ranks of genuinely tied ids are pinned by the
    persist here, but cross-TRIGGER arrival order of tied ids is
    inherently undefined."""
    from ..datapipe.sampling import pack_sequences

    keys = [] if by is None else ["shard"]
    key_fields = [_SHARD] if by is not None else []
    key_cols = [F.col(by).cast("string").alias("shard")] if by is not None else []
    schema = _SCHEMA_BY if by is not None else _SCHEMA

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        out_dir = batch_dir(pack_root, _PACKED, batch_id)
        if begin_trigger(out_dir):
            return  # replay of a committed batch: exactly-once no-op

        carries = _read_carries(spark, pack_root, keys)

        toks = F.col(tokens_col)
        if sep_token is not None:
            toks = F.concat(toks, F.array(F.lit(sep_token)))
        w = Window.partitionBy(*keys).orderBy(id_col)
        ranked = batch_df.select(
            *key_cols, F.col(id_col), toks.alias("__toks")
        ).select(
            *keys, F.row_number().over(w).cast("long").alias("__rk"), "__toks"
        )
        rem_schema = T.StructType(
            key_fields
            + [
                T.StructField("__rk", T.LongType()),
                T.StructField("__toks", T.ArrayType(T.StringType())),
            ]
        )
        rem_rows = [(*k, 0, rem) for k, (_s0, rem) in carries.items() if rem]
        allr = (
            spark.createDataFrame(rem_rows, rem_schema)
            .unionByName(ranked)
            .persist()
        )

        try:
            # per-key token totals: bounded collect (#keys rows), fixes how
            # many FULL sequences each key closes this trigger (the carry
            # offset is always a max_len boundary). Without keys this is a
            # global aggregate: one row even for an empty trigger, so the
            # global stream always commits its carry row.
            totals = {
                tuple(r[k] for k in keys): int(r.n)
                for r in allr.groupBy(*keys)
                .agg(F.coalesce(F.sum(F.size("__toks")), F.lit(0)).alias("n"))
                .collect()
            }
            offs = [
                (*k, carries.get(k, (0, []))[0], n // max_len)
                for k, n in totals.items()
            ]
            offs_schema = T.StructType(
                key_fields
                + [
                    T.StructField("__seq0", T.LongType()),
                    T.StructField("__nfull", T.LongType()),
                ]
            )
            packed = pack_sequences(
                allr, "__toks", ["__rk"], max_len, by=keys
            ).join(  # no keys: the one-row offsets frame joins every row
                F.broadcast(spark.createDataFrame(offs, offs_schema)), keys or None
            )
            full = packed.filter(F.col("seq") < F.col("__nfull")).select(
                *keys,
                (F.col("seq") + F.col("__seq0")).alias("seq"),
                "tokens",
                "n_tokens",
                F.lit(False).alias("is_carry"),
            )
            tails = {
                tuple(r[k] for k in keys): list(r.tokens)
                for r in packed.filter(F.col("seq") >= F.col("__nfull")).collect()
            }
            # carry set = every key this trigger touched, at its new state,
            # plus every untouched live key carried forward unchanged
            new_carries = {
                k: (carries.get(k, (0, []))[0] + n // max_len, tails.get(k, []))
                for k, n in totals.items()
            }
            for k, state in carries.items():
                new_carries.setdefault(k, state)
            carry_rows = spark.createDataFrame(
                [
                    (*k, s0, rem, len(rem), True)
                    for k, (s0, rem) in sorted(new_carries.items())
                ],
                schema,
            )
            commit_write(full.unionByName(carry_rows), out_dir)
        finally:
            allr.unpersist()

    return _apply


def streaming_token_shards(
    stream_df: DataFrame,
    pack_root: str,
    checkpoint_path: str,
    max_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "bpe_tokens",
    sep_token: str | None = None,
    timeout_sec: int = 600,
    by: str | None = None,
) -> None:
    """Drain ``stream_df`` (AvailableNow) into the packed-shard store
    under ``pack_root``. Resumable: rerunning with the same
    ``checkpoint_path`` continues from the committed carry. Read the
    store with :func:`read_packed_shards` at any point. ``by=<col>``
    packs each shard as an independent stream (the scale posture — see
    module docstring)."""
    fn = token_pack_batch_fn(
        stream_df.sparkSession,
        pack_root,
        max_len,
        id_col=id_col,
        tokens_col=tokens_col,
        sep_token=sep_token,
        by=by,
    )
    drain_available_now(
        stream_df.writeStream.foreachBatch(fn).option(
            "checkpointLocation", checkpoint_path
        ),
        timeout_sec,
    )


def compact_packed_shards(
    spark,
    pack_root: str,
    target_rows_per_file: int = 2_000_000,
    exclude_newest: bool = True,
) -> dict:
    """Rewrite accumulated per-trigger shard dirs into right-sized
    segments (covers-manifest protocol, ``state_store.compact_kind`` —
    one rename publishes the compacted segment and retires its sources;
    crash-safe bottom-up GC). Stale carry rows are dropped; the LIVE
    carry per key (max by (seq, n_tokens) — one row for the global
    stream, one per shard for a ``by=``-keyed store) is preserved in the
    compacted segment, so a resume works even after a full
    ``exclude_newest=False`` compaction of a quiesced drain. The newest
    trigger is excluded by default, exactly like the corpus/IVF
    compactors (its dir is the exactly-once replay marker). Run one
    compactor at a time; the drain itself is not paused."""

    def _select(rows: DataFrame) -> DataFrame:
        keys = ["shard"] if "shard" in rows.columns else []
        return rows.filter(~F.col("is_carry")).unionByName(
            _live_carries(rows, keys)
        )

    return compact_kind(
        spark, pack_root, _PACKED, target_rows_per_file, exclude_newest,
        select=_select,
    )[0]
