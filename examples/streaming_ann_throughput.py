"""Per-trigger cost curve of streaming IVF index maintenance.

The scale claim of `streaming/ann_stream.py` is that a trigger costs
O(batch), not O(index): the quantizer is fixed at seed time, each batch
is assigned by a broadcast-centroid argmax (one scan of the batch, no
shuffle of vectors), and the committed inverted-list segments are never
re-read by later triggers. This script measures it: seed the index with
the even-id half of the embeddings table, stream the odd half in 8 equal
micro-batches, and print each batch's wall clock as the index grows. A
flat curve is the pass; growth tracking the index would mean a hidden
index rescan.

    python examples/streaming_ann_throughput.py [sf_dir=/tmp/sf1]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from v3_polars_spark.session import get_spark, tune_shuffle_partitions
from v3_polars_spark.streaming import read_ivf_index, seed_ivf_index
from v3_polars_spark.streaming.ann_stream import ivf_assign_batch_fn
from v3_polars_spark.streaming.state_store import drain_available_now

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
N_BATCHES = 8


def main() -> None:
    spark = get_spark(app_name="streaming-ann-throughput")
    tune_shuffle_partitions(
        spark, os.path.getsize(os.path.join(SF, "embeddings.parquet"))
    )
    work = tempfile.mkdtemp(prefix="sat_")
    src, root, ckpt = (
        os.path.join(work, "vecs"),
        os.path.join(work, "idx"),
        os.path.join(work, "ckpt"),
    )
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))

    t0 = time.time()
    seed = emb.filter(F.col("vec_id") % 2 == 0)
    seed_ivf_index(seed, root, n_centroids=16, iters=1)
    n0 = seed.count()
    print(f"seed: {n0} vectors in {time.time() - t0:.1f} s (one-time build)")

    base = time.time() - 3600
    fresh_n = []
    for s in range(N_BATCHES):
        seg = emb.filter(
            (F.col("vec_id") % 2 == 1)
            & ((F.col("vec_id") / 2).cast("long") % N_BATCHES == s)
        )
        d = os.path.join(src, f"seg{s}")
        seg.coalesce(4).write.parquet(d)
        fresh_n.append(spark.read.parquet(d).count())
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (base + s, base + s))

    walls = []
    fn = ivf_assign_batch_fn(spark, root)

    def timed(df, batch_id):
        t = time.time()
        fn(df, batch_id)
        walls.append(round(time.time() - t, 2))

    drain_available_now(
        # one micro-batch per segment via distinct mtimes (see the
        # streaming_dedup_throughput note on same-mtime coalescing)
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "seg*"))
        .writeStream.foreachBatch(timed)
        .option("checkpointLocation", ckpt),
        1800,
    )

    _, assigned = read_ivf_index(spark, root)
    index_size = n0
    print(f"\n{'batch':>5} {'fresh':>8} {'index_before':>13} {'wall_s':>7}")
    for i, w in enumerate(walls):
        print(f"{i:>5} {fresh_n[i]:>8} {index_size:>13} {w:>7}")
        index_size += fresh_n[i]
    print(f"\nfinal index: {assigned.count()} vectors; walls: {walls}")
    first, last = walls[0], walls[-1]
    print(
        f"batch-0 vs batch-{len(walls)-1} wall: {first} -> {last} s "
        f"({last / first:.2f}x) while the index grew "
        f"{n0} -> {index_size} vectors ({index_size / n0:.2f}x)"
    )


if __name__ == "__main__":
    main()
