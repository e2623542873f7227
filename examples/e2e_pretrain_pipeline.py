"""The COMPOSED pretraining-data pipeline — crawl → quality filter →
exact + near dedup → BPE encode → packed fixed-length shards — as one
job, in both execution modes:

- **batch**: the whole pipeline is ONE lazily-composed DataFrame plan
  ending in a single parquet write (no intermediate materialization —
  Catalyst sees quality scoring, both dedup passes, the tokenizer fold
  and the packing windows together and prunes/pushes across them);
- **streaming drain**: the identical operator chain maintained as
  resumable incremental state — crawl segments land as files, the
  quality filter runs stateless inside the stream, each micro-batch is
  deduped exact+near against the PERSISTED corpus
  (`streaming_corpus_dedup`), and the packer stream tails the corpus's
  atomic batch dirs, encoding and packing only what each trigger adds
  (`streaming_token_shards`). Per-trigger cost is O(batch), never
  O(corpus).

Every stage is an operator this repo ships separately (see
examples/datapipe_quickstart.py, streaming_corpus_dedup.py,
tokenizer_quickstart.py, and ``streaming.streaming_token_shards``);
tests/test_e2e_pipeline.py pins that this composition's output equals
those staged operators run one-at-a-time. Reference analog: the
segmented ingest loop (data_update.py:191-292) feeding the tokenize/
pack stages the reference leaves to downstream tools.

    python examples/e2e_pretrain_pipeline.py [sf_dir] [n_segments] [max_len]

Prints one JSON line per mode with the end-to-end wall and us/doc, and
a final summary comparing survivor counts (batch global clustering
keeps the BEST doc per near-dup cluster; the streaming drain keeps the
FIRST-SEEN — production first-wins semantics — so counts may differ by
design where a cluster spans segments).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from v3_polars_spark.datapipe import (
    bpe_encode,
    bpe_train,
    dedup_exact,
    dedup_near_best,
    language_id,
    pack_sequences,
    quality_score,
)
from v3_polars_spark.session import get_spark
from v3_polars_spark.streaming import (
    read_corpus,
    read_pack_carry,
    read_packed_shards,
    seed_corpus,
    streaming_corpus_dedup,
    streaming_token_shards,
)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
N_SEGMENTS = int(sys.argv[2]) if len(sys.argv) > 2 else 4
MAX_LEN = int(sys.argv[3]) if len(sys.argv) > 3 else 64
NUM_MERGES = 24
DEDUP = dict(n=3, num_hashes=16, bands=4, verify_threshold=0.05)


def quality_keep(df):
    """The C4-style keep rule (same thresholds as dp_quality_filter):
    language in the four marker sets, >=10 words, composite quality
    >= 0.5 — pure column expressions, streamable."""
    scored = quality_score(language_id(df))
    return scored.filter(
        F.col("lang_pred").isin("en", "de", "fr", "es")
        & (F.col("n_words") >= 10)
        & (F.col("quality") >= 0.5)
    ).select(*df.columns)


def batch_pipeline(docs, merges, max_len):
    """The full composition as ONE plan: quality -> exact dedup ->
    keep-best near dedup -> BPE encode -> packed sequences."""
    kept = quality_keep(docs)
    survivors = dedup_near_best(
        dedup_exact(kept), "n_chars", **DEDUP
    )
    enc = bpe_encode(survivors.select("doc_id", "text"), merges)
    return pack_sequences(
        enc, "bpe_tokens", ["doc_id"], max_len=max_len, sep_token="</doc>"
    )


def main() -> None:
    spark = get_spark(app_name="e2e-pretrain-pipeline")
    work = tempfile.mkdtemp(prefix="e2e_pipeline_")
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text", "n_chars"
    )
    n_docs = docs.count()

    # tokenizer trained ONCE up front (production shape: the tokenizer is
    # frozen before the corpus build; both modes share the merge table)
    merges = bpe_train(docs.select("doc_id", "text"), NUM_MERGES)

    # ---------------------------------------------------------- batch
    t0 = time.monotonic()
    out_dir = os.path.join(work, "packed_batch")
    shards = batch_pipeline(docs, merges, MAX_LEN)
    shards.write.mode("overwrite").parquet(out_dir)
    wall_b = time.monotonic() - t0
    got = spark.read.parquet(out_dir)
    n_seq_b = got.count()
    print(
        json.dumps(
            {
                "mode": "batch_one_plan",
                "docs_in": n_docs,
                "sequences": n_seq_b,
                "wall_sec": round(wall_b, 3),
                "us_per_doc": round(wall_b / n_docs * 1e6, 1),
            }
        ),
        flush=True,
    )

    # ------------------------------------------------------ streaming
    # crawl segments land as files: contiguous doc_id ranges, one file
    # per segment, so arrival order == doc_id order (the packer's
    # documented determinism case)
    crawl = os.path.join(work, "crawl")
    ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").collect()]
    step = max(1, (len(ids) + N_SEGMENTS - 1) // N_SEGMENTS)
    bounds = [ids[i] for i in range(0, len(ids), step)] + [ids[-1] + 1]
    os.makedirs(crawl, exist_ok=True)
    seg0 = docs.filter(F.col("doc_id") < bounds[1])
    for i in range(1, N_SEGMENTS):
        lo, hi = bounds[i], bounds[i + 1]
        seg = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        seg.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(crawl, f"seg={i}")
        )

    corpus = os.path.join(work, "corpus")
    pack_root = os.path.join(work, "packed_stream")

    t0 = time.monotonic()
    # seed: segment 0 run through the same quality+self-dedup stages
    # (an already-ingested corpus)
    from v3_polars_spark.datapipe import dedup_near

    seed = dedup_near(dedup_exact(quality_keep(seg0)), **DEDUP)
    seed_corpus(
        seed, corpus, n=DEDUP["n"], num_hashes=DEDUP["num_hashes"],
        bands=DEDUP["bands"],
    )

    # hop 1: crawl file stream -> stateless quality filter -> incremental
    # exact+near dedup vs persisted corpus state
    stream = quality_keep(
        spark.readStream.schema(docs.schema)
        # one crawl segment per trigger: the incremental shape (availableNow
        # honors maxFilesPerTrigger, so the drain replays segment-at-a-time)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(crawl, "seg=*"))
    )
    streaming_corpus_dedup(
        stream, corpus, os.path.join(work, "ckpt_dedup"),
        near=True, near_self=True, **DEDUP,
    )
    wall_dedup = time.monotonic() - t0

    # hop 2: the packer stream TAILS the corpus docs dirs (atomic
    # batch-dir commits make each trigger's files appear all-or-nothing),
    # encodes with the frozen merges (stateless expression fold) and
    # packs incrementally
    t0 = time.monotonic()
    corpus_docs = read_corpus(spark, corpus)
    enc_stream = bpe_encode(
        spark.readStream.schema(
            corpus_docs.drop("batch").schema
        ).parquet(os.path.join(corpus, "docs", "batch=*")),
        merges,
        strategy="kernel",
    )
    streaming_token_shards(
        enc_stream, pack_root, os.path.join(work, "ckpt_pack"),
        max_len=MAX_LEN, sep_token="</doc>",
    )
    wall_pack = time.monotonic() - t0

    shards_s = read_packed_shards(spark, pack_root)
    n_seq_s = shards_s.count()
    _seq0, carry_toks = read_pack_carry(spark, pack_root)
    n_corpus = corpus_docs.count()
    wall_s = wall_dedup + wall_pack
    print(
        json.dumps(
            {
                "mode": "streaming_drain",
                "docs_in": n_docs,
                "segments": N_SEGMENTS,
                "corpus_survivors": n_corpus,
                "full_sequences": n_seq_s,
                "carry_tokens": len(carry_toks),
                "wall_dedup_sec": round(wall_dedup, 3),
                "wall_pack_sec": round(wall_pack, 3),
                "wall_sec": round(wall_s, 3),
                "us_per_doc": round(wall_s / n_docs * 1e6, 1),
            }
        ),
        flush=True,
    )

    n_tok_b = (
        batch_pipeline(docs, merges, MAX_LEN)
        .agg(F.sum("n_tokens"))
        .first()[0]
    )
    n_tok_s = (shards_s.agg(F.sum("n_tokens")).first()[0] or 0) + len(
        carry_toks
    )
    print(
        json.dumps(
            {
                "summary": {
                    "batch_total_tokens": n_tok_b,
                    "stream_total_tokens": n_tok_s,
                    "note": "batch keeps BEST per near-dup cluster, "
                    "stream keeps FIRST-SEEN; totals differ only where "
                    "a cluster spans segments",
                }
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
