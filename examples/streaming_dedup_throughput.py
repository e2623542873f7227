"""Per-trigger cost curve of streaming incremental corpus dedup.

The scale claim of `streaming/dedup_stream.py` is that a trigger costs
O(batch), not O(corpus): the corpus text is never re-read (fingerprints,
LSH buckets, shingle sets persist per batch) and the corpus STATE is
scanned, never shuffled (batch-side broadcast probes). This script
measures it: seed the kept corpus with the even-id half of a 500 k-doc
corpus, stream the odd half in 8 equal micro-batches, and print each
batch's wall clock as the kept corpus grows. A flat-ish curve (mild
growth from the growing state SCAN) is the pass; a curve growing like
the corpus would mean a hidden re-shingle or state shuffle.

    python examples/streaming_dedup_throughput.py [sf_dir=/tmp/sf1z]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from v3_polars_spark.session import get_spark, tune_shuffle_partitions
from v3_polars_spark.streaming import read_corpus, seed_corpus
from v3_polars_spark.streaming.dedup_stream import corpus_dedup_batch_fn
from v3_polars_spark.streaming.state_store import drain_available_now

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1z"
N_BATCHES = 8


def main() -> None:
    spark = get_spark(app_name="streaming-dedup-throughput")
    tune_shuffle_partitions(
        spark, os.path.getsize(os.path.join(SF, "documents.parquet"))
    )
    work = tempfile.mkdtemp(prefix="sdt_")
    src, root, ckpt = (
        os.path.join(work, "crawl"),
        os.path.join(work, "corpus"),
        os.path.join(work, "ckpt"),
    )
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))

    t0 = time.time()
    corpus0 = docs.filter(F.col("doc_id") % 2 == 0)
    seed_corpus(corpus0, root)
    n0 = corpus0.count()
    print(f"seed: {n0} docs in {time.time() - t0:.1f} s (one-time state build)")

    base = time.time() - 3600
    fresh_n = []
    for s in range(N_BATCHES):
        seg = docs.filter(
            (F.col("doc_id") % 2 == 1) & ((F.col("doc_id") / 2).cast("long") % N_BATCHES == s)
        )
        d = os.path.join(src, f"seg{s}")
        seg.coalesce(4).write.parquet(d)
        fresh_n.append(
            spark.read.parquet(d).count()
        )
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (base + s, base + s))

    walls = []
    fn = corpus_dedup_batch_fn(spark, root)

    def timed(df, batch_id):
        t = time.time()
        fn(df, batch_id)
        walls.append(round(time.time() - t, 2))

    drain_available_now(
        # maxFilesPerTrigger=1 batches by distinct mtime group — one
        # micro-batch per segment (this Spark build coalesces same-mtime
        # files into one trigger regardless of the file cap)
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "seg*"))
        .writeStream.foreachBatch(timed)
        .option("checkpointLocation", ckpt),
        1800,
    )

    kept = read_corpus(spark, root)
    per_batch = {
        r["batch"]: r["count"]
        for r in kept.filter("batch >= 0").groupBy("batch").count().collect()
    }
    corpus_size = n0
    print(f"\n{'batch':>5} {'fresh':>8} {'kept':>8} {'corpus_before':>14} {'wall_s':>7}")
    for i, w in enumerate(walls):
        kept_i = per_batch.get(i, 0)
        print(f"{i:>5} {fresh_n[i]:>8} {kept_i:>8} {corpus_size:>14} {w:>7}")
        corpus_size += kept_i
    print(f"\nfinal corpus: {kept.count()} docs; walls: {walls}")
    first, last = walls[0], walls[-1]
    print(
        f"batch-0 vs batch-{len(walls)-1} wall: {first} -> {last} s "
        f"({last / first:.2f}x) while corpus grew "
        f"{n0} -> {corpus_size} docs ({corpus_size / n0:.2f}x)"
    )
    shutil.rmtree(work)
    spark.stop()


if __name__ == "__main__":
    main()
