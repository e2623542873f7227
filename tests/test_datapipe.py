"""Tests for the LLM-data-pipeline operators: planted duplicates for the
dedup family, real multilingual strings for language ID, fake media for the
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from v3_polars_spark.datapipe import (
    cosine_topk,
    cosine_topk_lsh,
    decode_image_features,
    dedup_exact,
    embedding_near_dup_lsh,
    embedding_near_dup_pairs,
    fingerprint_md5,
    hamming_near_pairs,
    ivf_topk,
    fingerprint_rolling,
    frame_sample_plan,
    language_id,
    make_fake_media,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_score,
    shingles,
    simhash,
    simhash_near_pairs,
    token_counts,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the tall green trees outside"
)
NEAR_DUP = BASE.replace("lazy dog", "sleepy dog")  # one token changed
UNRELATED = (
    "distributed query engines shuffle partitioned data across executor "
    "nodes using hash exchanges and sort merge join strategies for scale"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, NEAR_DUP),  # near dup of 0
        (3, UNRELATED),
        (4, "  THE   quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill and the birds sing in the tall "
            "green trees outside "),  # dup of 0 modulo case/whitespace
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact(docs):
    out = dedup_exact(docs).select("doc_id").orderBy("doc_id").collect()
    # 0,1,4 normalize identically -> keep 0; 2 and 3 survive
    assert [r["doc_id"] for r in out] == [0, 2, 3]


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert pairs[(0, 4)] == 1.0  # normalized dup
    assert 0.5 < pairs[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in pairs  # unrelated


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, verify_threshold=0.5).collect()
    }
    assert (0, 1) in pairs and (0, 4) in pairs and (0, 2) in pairs
    assert (0, 3) not in pairs


def test_minhash_lsh_collapse_equivalence(docs, spark):
    """The exact-dup collapse path must be row-identical to the
    uncollapsed pipeline — including empty docs (no shingles → no pairs)
    and same-set/different-order duplicates."""
    extra = spark.createDataFrame(
        [
            (5, ""),  # empty: must never appear in any pair
            (6, "x"),  # <n tokens: empty shingle set too
            (7, BASE),  # third exact copy -> a 3-member group
        ],
        ["doc_id", "text"],
    )
    d = docs.unionByName(extra)
    key = lambda rows: sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in rows
    )
    fast = key(minhash_lsh_pairs(d, verify_threshold=0.05).collect())
    slow = key(
        minhash_lsh_pairs(d, verify_threshold=0.05, collapse_exact=False).collect()
    )
    assert fast == slow
    ids_in_pairs = {i for a, b, _ in fast for i in (a, b)}
    assert 5 not in ids_in_pairs and 6 not in ids_in_pairs
    # the 3-member exact group emits all three within pairs at 1.0
    ones = {(a, b) for a, b, j in fast if j == 1.0}
    assert {(0, 1), (0, 7), (1, 7)} <= ones


def test_hamming_collapse_equivalence(docs, spark):
    """Signature collapse must be row-identical to the uncollapsed banded
    join, including the auto-widened-band regime and null signatures
    (excluded from pairs in both paths)."""
    sig = simhash(docs)
    null_row = spark.createDataFrame(
        [(99, None)], "doc_id bigint, simhash bigint"
    )
    with_null = sig.unionByName(null_row)
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["hamming"]) for r in rows)
    for mh in (3, 16):
        fast = key(hamming_near_pairs(with_null, max_hamming=mh).collect())
        slow = key(
            hamming_near_pairs(
                with_null, max_hamming=mh, collapse_exact=False
            ).collect()
        )
        assert fast == slow
        assert all(99 not in (a, b) for a, b, _ in fast)
    # identical signatures -> within pairs at hamming exactly 0
    zeros = {(a, b) for a, b, h in fast if h == 0}
    assert (0, 1) in zeros


def test_ngram_jaccard_collapse_equivalence(docs, spark):
    extra = spark.createDataFrame(
        [(5, ""), (6, "x y"), (7, BASE)], ["doc_id", "text"]
    )
    d = docs.unionByName(extra)
    key = lambda rows: sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in rows
    )
    fast = key(ngram_jaccard_pairs(d, threshold=0.05).collect())
    slow = key(
        ngram_jaccard_pairs(d, threshold=0.05, collapse_exact=False).collect()
    )
    assert fast == slow
    ids = {i for a, b, _ in fast for i in (a, b)}
    assert 5 not in ids and 6 not in ids
    assert {(0, 1), (0, 7), (1, 7)} <= {(a, b) for a, b, j in fast if j == 1.0}


def test_simhash_near_pairs(docs, spark):
    sig = simhash(docs)
    vals = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert vals[0] == vals[1]  # identical text -> identical signature
    pairs = simhash_near_pairs(sig, max_hamming=16).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in keys
    assert (0, 3) not in keys  # unrelated text far in hamming space


def test_language_id_real_strings(spark):
    rows = [
        (0, "the cat sat on the mat and it was happy with the sun"),
        (1, "der Hund ist nicht mit der Katze auf dem Sofa und das ist gut"),
        (2, "le chat est dans la maison et les oiseaux sont dans le jardin"),
        (3, "el perro es grande y los gatos son pequeños para el parque del barrio"),
        (4, "今天天气很好我们去公园散步"),
        (5, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert out == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "zh", 5: "und"}


def test_token_counts_and_quality(docs):
    tc = token_counts(docs).filter(F.col("doc_id") == 0).first()
    assert tc["n_tokens_ws"] == len(BASE.split())
    assert tc["n_tokens_bpe_est"] >= tc["n_tokens_ws"]
    q = quality_score(docs).filter(F.col("doc_id") == 0).first()
    assert q["n_words"] == len(BASE.split())
    assert 0.0 <= q["quality"] <= 1.0
    assert q["quality"] > 0.5  # clean english text scores well


def test_fingerprints(docs):
    fps = {r["doc_id"]: r["fp"] for r in fingerprint_md5(docs).collect()}
    assert fps[0] == fps[1] == fps[4]
    assert fps[0] != fps[3]
    rolled = {r["doc_id"]: r["fp64"] for r in fingerprint_rolling(docs).collect()}
    assert rolled[0] == rolled[1] == rolled[4]
    assert rolled[0] != rolled[3]


def test_shingles_count(spark):
    df = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
    out = shingles(df, n=3).collect()
    assert {r["shingle"] for r in out} == {"a b c", "b c d"}


def test_cosine_topk_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=5)
    rows = out.collect()
    assert len(rows) == 10
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert rs[0]["vec_id"] == qid  # self is the nearest neighbor
        assert rs[0]["cosine"] == pytest.approx(1.0, rel=1e-6)
        cos = [r["cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)


def test_cosine_topk_lsh_self_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_lsh(emb, queries, dim=64, k=5, bits=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert rs[0]["vec_id"] == qid  # identical vector shares every bucket


def test_embedding_near_dup_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_dup_pairs(emb, threshold=0.4)
    rows = pairs.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.4


def test_embedding_near_dup_lsh_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = embedding_near_dup_pairs(emb, threshold=0.4).select("id_a", "id_b")
    approx = embedding_near_dup_lsh(
        emb, dim=64, threshold=0.4, bits=4, tables=8
    ).select("id_a", "id_b")
    n_exact = exact.count()
    n_approx = approx.count()
    n_hit = approx.intersect(exact).count()
    assert n_hit == n_approx  # precision 1.0: exact filter removes all FPs
    assert n_hit / n_exact >= 0.5  # recall floor at these LSH params


def test_embedding_lsh_collapse_equivalence(spark, sf_dir):
    """Vector exact-dup collapse must be bit-identical to the uncollapsed
    pipeline — within-group pairs carry the COMPUTED self-cosine, so even
    last-ulp FP behavior matches. (A zero vector raises ANSI
    DIVIDE_BY_ZERO identically in both paths once it lands in a shared
    bucket — also parity, exercised implicitly by the singleton guard in
    the operator.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    first = emb.first()
    dup = spark.createDataFrame(
        [
            (90001, first["embedding"], 0),  # exact copy of vec 0's embedding
            (90002, first["embedding"], 0),  # second copy -> 3-member group
        ],
        emb.schema,
    )
    d = emb.unionByName(dup)
    kw = dict(dim=64, threshold=0.4, bits=4, tables=8)
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["cosine"]) for r in rows)
    fast = key(embedding_near_dup_lsh(d, **kw).collect())
    slow = key(embedding_near_dup_lsh(d, **kw, collapse_exact=False).collect())
    assert fast == slow  # bit-exact incl. cosines
    pair_ids = {(a, b) for a, b, _ in fast}
    assert {(first["vec_id"], 90001), (first["vec_id"], 90002), (90001, 90002)} <= pair_ids


def _pair_block_input(spark, sizes):
    """One ``(d, __ids)`` row per size: ids 0..d-1 in scrambled order, so
    the expander's own sort is exercised."""
    rows = [(d, [(i * 7919) % d for i in range(d)] if d else []) for d in sizes]
    return spark.createDataFrame(rows, "d int, __ids array<bigint>")


def test_pair_blocks_emit_every_combination_across_block_edges(spark):
    """The bounded pair expander emits exactly itertools.combinations of
    each id array, for sizes on both sides of every block boundary."""
    import itertools

    from v3_polars_spark.datapipe.dedup import _PAIR_BLOCK as B, _pair_blocks

    sizes = [1, 2, B - 1, B, B + 1, 2 * B + 3]
    got = {d: [] for d in sizes}
    out = _pair_blocks(_pair_block_input(spark, sizes), "d").select(
        "d", F.inline("__p")
    )
    for r in out.toLocalIterator():
        got[r["d"]].append((r["id_a"], r["id_b"]))
    for d in sizes:
        assert sorted(got[d]) == list(itertools.combinations(range(d), 2)), d


def test_pair_blocks_bound_every_generated_array(spark):
    """On a 3-block group no generated pair array exceeds B^2 elements,
    while the arrays together still hold all d(d-1)/2 pairs."""
    from v3_polars_spark.datapipe.dedup import _PAIR_BLOCK as B, _pair_blocks

    d = 3 * B
    sizes = _pair_blocks(_pair_block_input(spark, [d])).select(
        F.size("__p").alias("n")
    )
    r = sizes.agg(F.max("n").alias("mx"), F.sum("n").alias("tot")).first()
    assert r["mx"] <= B * B
    assert r["tot"] == d * (d - 1) // 2


def test_ivf_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = ivf_topk(emb, queries, dim=64, k=10, n_centroids=8, n_probe=3)
    rows = approx.collect()
    assert len(rows) == 30  # k results per query even when probing 3/8 lists
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert rs[0]["vec_id"] == qid  # self always lands in the probed list
    hits = (
        approx.select("query_id", "vec_id").intersect(exact).count()
    )
    assert hits / 30 >= 0.4  # loose recall floor: random data clusters poorly


def test_ivf_search_nonfinite_centroid_falls_back(spark):
    """A NaN centroid component (reachable: ivf_build means propagate a
    NaN embedding) must NOT be rendered into the inline literal plan —
    'nanD' is unparseable SQL. The search falls back to the general
    crossJoin+window plan and still returns ranked finite matches. A
    NULL component takes the same fallback."""
    from v3_polars_spark.datapipe import ivf_search

    assigned = spark.createDataFrame(
        [(0, 10, [1.0, 0.1]), (0, 11, [0.9, 0.2]), (1, 20, [0.0, 1.0])],
        "cluster_id long, vec_id long, __v array<double>",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    for bad in (float("nan"), None):
        centroids = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [bad, 1.0])],
            "cluster_id long, centroid array<double>",
        )
        rows = ivf_search(centroids, assigned, q, k=2, n_probe=2).collect()
        ranked = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranked == [10, 11], bad


def test_ivf_search_null_vn_recomputes_norm(spark):
    """Mixed-schema persisted index: rows whose __vn is NULL (segments
    written before the column existed) must recompute the norm instead
    of nulling the cosine."""
    from v3_polars_spark.datapipe import ivf_search

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cluster_id long, centroid array<double>"
    )
    assigned = spark.createDataFrame(
        [(0, 10, [3.0, 4.0], None), (0, 11, [1.0, 0.0], 1.0)],
        "cluster_id long, vec_id long, __v array<double>, __vn double",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    rows = {r["vec_id"]: r["cosine"] for r in
            ivf_search(centroids, assigned, q, k=2, n_probe=1).collect()}
    assert rows[11] == 1.0
    assert abs(rows[10] - 0.6) < 1e-12  # 3/5 from the recomputed norm


def test_ann_recall_check_arithmetic(spark):
    """Pin the recall arithmetic on hand data: q1 approx hits 2/3 exact,
    q2 hits 3/3; mean 5/6, min 2/3; contract booleans at both thresholds.
    Extra approx rows beyond rank<=k and ids absent from exact must not
    count."""
    from v3_polars_spark.datapipe import ann_recall_check

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id int, vec_id int, rank long",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (1, 11, 3), (1, 12, 4),  # rank-4 excluded
         (2, 22, 1), (2, 21, 2), (2, 20, 3)],
        "query_id int, vec_id int, rank long",
    )
    row = ann_recall_check(
        approx, exact, k=3, min_recall=0.8, strict_min_recall=0.9
    ).first()
    assert row["k"] == 3 and row["n_queries"] == 2
    assert abs(row["mean_recall"] - round(5 / 6, 6)) < 1e-9
    assert abs(row["min_query_recall"] - round(2 / 3, 6)) < 1e-9
    assert row["recall_ok"] is True and row["recall_ok_strict"] is False


def test_multimodal_fake_decode(spark):
    media = make_fake_media(spark, n=12)
    feats = decode_image_features(media, dim=8, fake=True).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["feature"]) == 8
        assert all(0.0 <= x < 1.0 for x in r["feature"])
        assert r["n_bytes"] == 256
    # determinism: same payload -> same feature
    again = decode_image_features(media, dim=8, fake=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, again))


def test_multimodal_real_decode_rejects_non_image_bytes(spark):
    """fake payloads are ASCII hex, not PNG/JPEG — the real decoder must
    fail loudly, not produce garbage features (real-bytes coverage lives
    in tests/test_codecs.py::TestSparkRealPaths)."""
    media = make_fake_media(spark, n=3)
    with pytest.raises(Exception, match="unsupported image format"):
        decode_image_features(media, dim=8, fake=False).collect()


def test_frame_sample_plan(spark):
    media = make_fake_media(spark, n=9)
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    # videos have duration 5000ms -> 5 frames each
    vids = {r["media_id"] for r in rows}
    assert all(r["frame_ts_ms"] in (0, 1000, 2000, 3000, 4000) for r in rows)
    assert len(rows) == len(vids) * 5


def test_connected_components_transitive(spark):
    """A~B and B~C must cluster A,B,C even with no direct A~C pair."""
    from v3_polars_spark.datapipe import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 7, 9]], ["doc_id"])
    got = {r["doc_id"]: r["rep"] for r in connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 9: 7}


def test_dedup_near_keeps_one_per_cluster(docs):
    from v3_polars_spark.datapipe import dedup_near

    out = dedup_near(docs, verify_threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    # docs fixture plants doc 0 (BASE) ~ doc 1 (NEAR_DUP); min id 0 survives
    assert 0 in ids and 1 not in ids


def test_sample_fraction_deterministic(spark, sf_dir):
    from v3_polars_spark.datapipe import sample_fraction

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r["doc_id"] for r in sample_fraction(d, 0.3, seed=5).select("doc_id").collect()}
    b = {r["doc_id"] for r in sample_fraction(d.repartition(7), 0.3, seed=5).select("doc_id").collect()}
    assert a == b  # partitioning-independent membership
    n = d.count()
    assert 0.15 * n < len(a) < 0.45 * n  # ~fraction, not exact
    c = {r["doc_id"] for r in sample_fraction(d, 0.3, seed=6).select("doc_id").collect()}
    assert a != c  # seed changes the selection


def test_sample_stratified_exact_counts(spark, sf_dir):
    from v3_polars_spark.datapipe import sample_stratified

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sample_stratified(d, ["lang"], n_per_stratum=3, seed=1)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(3, sizes[lang])
    # fraction variant: exact ceil per stratum
    out2 = sample_stratified(d, ["lang"], fraction=0.5, seed=1)
    counts2 = {r["lang"]: r["n"] for r in out2.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    import math
    for lang, n in counts2.items():
        assert n == math.ceil(sizes[lang] * 0.5)


def test_source_mix_epochs(spark):
    from v3_polars_spark.datapipe import source_mix

    rows = [(i, "web" if i < 100 else "books") for i in range(150)]
    d = spark.createDataFrame(rows, ["doc_id", "source"])
    out = source_mix(d, {"books": 2.5, "web": 0.4}, seed=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    # books: every row has >= 2 epochs, ~half have 3
    books = [len(v) for k, v in by_doc.items() if k >= 100]
    assert all(n in (2, 3) for n in books)
    assert 0.2 < sum(n == 3 for n in books) / len(books) < 0.8
    # web: downsampled to ~40%, single epoch each
    web = [v for k, v in by_doc.items() if k < 100]
    assert all(v == [0] for v in web)
    assert 20 < len(web) < 60
    # epochs are contiguous 0..n-1
    for v in by_doc.values():
        assert sorted(v) == list(range(len(v)))


def test_pack_offsets_layout(spark):
    from v3_polars_spark.datapipe import pack_offsets

    rows = [(i, "s", 1000) for i in range(10)]  # 10 docs x 1000 tokens
    d = spark.createDataFrame(rows, ["doc_id", "shard", "n_tok"])
    out = {
        r["doc_id"]: r
        for r in pack_offsets(d, "n_tok", ["doc_id"], max_len=4096, by=["shard"]).collect()
    }
    assert out[0]["start_offset"] == 0 and out[0]["first_seq"] == 0
    assert out[4]["start_offset"] == 4000
    assert out[4]["first_seq"] == 0 and out[4]["last_seq"] == 1  # spans the cut
    assert out[4]["offset_in_seq"] == 4000
    assert out[5]["first_seq"] == 1
    # contiguity: each doc starts where the previous ended
    for i in range(1, 10):
        assert out[i]["start_offset"] == out[i - 1]["end_offset"]
    # shards are independent streams
    d2 = spark.createDataFrame(
        [(0, "a", 10), (1, "b", 10)], ["doc_id", "shard", "n_tok"]
    )
    out2 = pack_offsets(d2, "n_tok", ["doc_id"], max_len=8, by=["shard"]).collect()
    assert all(r["start_offset"] == 0 for r in out2)


def test_repetition_signals(spark):
    from v3_polars_spark.datapipe import repetition_signals

    rows = [
        (0, "spam spam spam spam spam spam"),          # one word looped
        (1, "alpha beta gamma delta epsilon zeta"),     # all distinct
        (2, "line one\nline one\nline two"),            # duplicate line
        (3, ""),                                        # empty
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_signals(d).collect()}
    assert out[0]["dup_word_frac"] == pytest.approx(5 / 6)
    assert out[0]["top_bigram_frac"] == 1.0            # only bigram is spam,spam
    assert out[1]["dup_word_frac"] == 0.0
    assert out[1]["top_bigram_frac"] == pytest.approx(1 / 5)
    assert out[2]["dup_line_frac"] == pytest.approx(1 / 3)
    assert out[3]["dup_word_frac"] == 0.0
    assert out[3]["top_bigram_frac"] == 0.0


def test_contamination_check(spark):
    from v3_polars_spark.datapipe import contamination_check

    train = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),   # = benchmark
            (1, "a completely different sentence about spark engines"),
            (2, "something with the quick brown fox inside but mostly unique "
                "words elsewhere in this much longer document text body"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in contamination_check(train, bench).collect()}
    assert out[0]["contaminated"] and out[0]["overlap_frac"] == 1.0
    assert not out[1]["contaminated"] and out[1]["n_contaminated"] == 0
    assert 0 < out[2]["n_contaminated"] < out[2]["n_ngrams"]


def test_pii_scrub(spark):
    from v3_polars_spark.datapipe import pii_scrub

    rows = [
        (0, "mail alice@example.com and bob.smith+tag@mail.co.uk today"),
        (1, "hosts 192.168.1.254 and 10.0.0.7 are up"),
        (2, "call +1 (555) 123-4567 or 555-987-6543"),
        (3, "nothing sensitive here"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pii_scrub(d).collect()}
    assert out[0]["n_email"] == 2
    assert out[0]["text_scrubbed"] == "mail <EMAIL> and <EMAIL> today"
    assert out[1]["n_ipv4"] == 2
    assert out[1]["text_scrubbed"] == "hosts <IPV4> and <IPV4> are up"
    assert out[2]["n_phone"] == 2
    assert out[2]["text_scrubbed"] == "call <PHONE> or <PHONE>"
    assert out[3]["text_scrubbed"] == "nothing sensitive here"
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_phone"] == 0


def test_tf_idf_top_terms(spark):
    from v3_polars_spark.datapipe import tf_idf_top_terms

    rows = [
        (0, "common common rare0 rare0 rare0"),
        (1, "common common rare1"),
        (2, "common rare2"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tf_idf_top_terms(d, k=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # the doc-unique term always outranks the corpus-wide one
    assert top == {0: "rare0", 1: "rare1", 2: "rare2"}
    assert all(r["rnk"] == 1 for r in out)


def test_vocabulary(spark):
    from v3_polars_spark.datapipe import vocabulary

    d = spark.createDataFrame(
        [(0, "a a b"), (1, "a b c")], ["doc_id", "text"]
    )
    out = {r["term"]: r for r in vocabulary(d).collect()}
    assert out["a"]["count"] == 3 and out["a"]["n_docs"] == 2
    assert out["b"]["count"] == 2 and out["b"]["n_docs"] == 2
    assert out["c"]["count"] == 1 and out["c"]["n_docs"] == 1
    assert vocabulary(d, min_count=2).count() == 2


def test_strip_boilerplate(spark):
    """Lines recurring across >= min_docs distinct docs are stripped from
    every doc; order preserved; all-boilerplate docs survive empty."""
    from v3_polars_spark.datapipe import boilerplate_lines, strip_boilerplate

    footer = "(c) example corp"
    docs = [
        (1, f"alpha\n{footer}\nbeta"),
        (2, f"gamma\n{footer.upper()}"),      # normalization: case-insensitive
        (3, f"delta\n  (c)   example   corp "),  # whitespace-normalized
        (4, footer),                           # only boilerplate -> empty
        (5, "unique line\nanother unique"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    bp = {r["line"] for r in boilerplate_lines(df, min_docs=3).collect()}
    assert bp == {footer}
    out = {r["doc_id"]: r for r in strip_boilerplate(df, min_docs=3).collect()}
    assert out[1]["text"] == "alpha\nbeta"
    assert out[1]["n_lines_removed"] == 1
    assert out[2]["text"] == "gamma"
    assert out[3]["text"] == "delta"
    assert out[4]["text"] == "" and out[4]["n_lines_kept"] == 0
    assert out[5]["text"] == "unique line\nanother unique"
    assert out[5]["n_lines_removed"] == 0


def test_dedup_against_drops_known_texts(spark):
    from v3_polars_spark.datapipe import dedup_against

    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also   SEEN  before")], ["doc_id", "text"]
    )
    fresh = spark.createDataFrame(
        [(10, "seen before"),          # exact duplicate -> dropped
         (11, "Also seen BEFORE"),     # normalized duplicate -> dropped
         (12, "genuinely new")],
        ["doc_id", "text"],
    )
    out = dedup_against(fresh, corpus)
    assert [r.doc_id for r in out.collect()] == [12]
    assert out.columns == ["doc_id", "text"]  # fp column not leaked


def test_resize_images_stub_contract(spark):
    from v3_polars_spark.datapipe import make_fake_media, resize_images

    media = make_fake_media(spark, n=12)
    out = resize_images(media, 32, 32, fake=True)
    rows = out.collect()
    # images only, deterministic payloads, updated dims
    assert len(rows) == 12 // 3
    assert all(r.width == 32 and r.height == 32 for r in rows)
    assert all(len(bytes(r.payload)) == 32 * 32 // 8 for r in rows)
    again = {r.media_id: bytes(r.payload)
             for r in resize_images(media, 32, 32, fake=True).collect()}
    assert all(bytes(r.payload) == again[r.media_id] for r in rows)


def test_resize_images_real_kernel_is_explicit_stub(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from v3_polars_spark.datapipe import make_fake_media, resize_images

    media = make_fake_media(spark, n=3)
    with pytest.raises((Py4JJavaError, Exception)):
        resize_images(media, 8, 8, fake=False).collect()


def test_audio_window_features_plan_and_decode(spark):
    from v3_polars_spark.datapipe import audio_window_features, make_fake_media

    media = make_fake_media(spark, n=12)  # audio rows: duration 5000ms
    out = audio_window_features(media, window_ms=1000, dim=4, fake=True)
    rows = out.collect()
    n_audio = media.filter("kind = 'audio'").count()
    assert len(rows) == n_audio * 5  # 5000ms / 1000ms windows each
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for rs in by_media.values():
        idxs = sorted(r.window_idx for r in rs)
        assert idxs == list(range(5))
        assert all(len(r.feature) == 4 for r in rs)
    # features vary across windows of the same payload (idx is mixed in)
    f = {r.window_idx: r.feature for r in by_media[list(by_media)[0]]}
    assert f[0] != f[1]


def test_normalize_l2_and_quantize_roundtrip(spark):
    from pyspark.sql import functions as F

    from v3_polars_spark.datapipe import (
        dequantize_int8,
        normalize_l2,
        quantize_int8,
    )

    rows = [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [-1.5, 2.5])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    normed = {r.vec_id: r.embedding for r in normalize_l2(df).collect()}
    assert abs(sum(x * x for x in normed[1]) - 1.0) < 1e-12
    assert normed[2] == [0.0, 0.0]  # zero vector passes through, no NaN

    q = dequantize_int8(quantize_int8(df))
    for r in q.collect():
        scale = r.q8_scale
        assert all(-127 <= c <= 127 for c in r.q8)
        for orig, deq in zip(r.embedding, r.deq):
            assert abs(orig - deq) <= scale / 2 + 1e-12


def test_split_train_val_test_disjoint_stable(spark, sf_dir):
    from v3_polars_spark.datapipe import split_train_val_test

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = split_train_val_test(docs, val_fraction=0.1, test_fraction=0.1, seed=3)
    counts = {r.split: r.n for r in
              s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = docs.count()
    assert sum(counts.values()) == total           # exhaustive
    assert 0 < counts.get("val", 0) < total * 0.25
    assert 0 < counts.get("test", 0) < total * 0.25
    # appending rows never moves existing assignments
    half = split_train_val_test(
        docs.filter("doc_id < 250"), val_fraction=0.1, test_fraction=0.1, seed=3
    )
    full = {r.doc_id: r.split for r in s.collect()}
    for r in half.collect():
        assert full[r.doc_id] == r.split


def test_shuffle_rows_deterministic_permutation(spark, sf_dir):
    from v3_polars_spark.datapipe import shuffle_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a = [r.doc_id for r in shuffle_rows(docs, seed=1).collect()]
    b = [r.doc_id for r in shuffle_rows(docs, seed=1).collect()]
    c = [r.doc_id for r in shuffle_rows(docs, seed=2).collect()]
    assert a == b                      # reproducible
    assert a != c                      # seed changes the order
    assert sorted(a) == sorted(c)      # still a permutation
    assert a != sorted(a)              # actually shuffled


def test_sample_weighted_prefers_heavy_rows(spark):
    from v3_polars_spark.datapipe import sample_weighted

    rows = [(i, 1000.0 if i < 5 else 0.001) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    picked = {r.doc_id for r in sample_weighted(df, "w", k=5, seed=9).collect()}
    assert len(picked) == 5
    assert len(picked & set(range(5))) >= 4  # heavy rows dominate

    again = {r.doc_id for r in sample_weighted(df, "w", k=5, seed=9).collect()}
    assert picked == again  # deterministic

    zero = spark.createDataFrame([(1, 0.0), (2, -1.0), (3, 2.0)], ["doc_id", "w"])
    out = sample_weighted(zero, "w", k=3).collect()
    assert [r.doc_id for r in out] == [3]  # non-positive weights excluded


def test_sample_weighted_per_group(spark):
    from v3_polars_spark.datapipe import sample_weighted

    rows = [(g * 100 + i, g, 1.0) for g in range(3) for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "g", "w"])
    out = sample_weighted(df, "w", k=4, by=["g"]).groupBy("g").count().collect()
    assert all(r["count"] == 4 for r in out)


# ---------------------------------------------------------------------------
# substring dedup (duplicated-span removal)
# ---------------------------------------------------------------------------


class TestDedupSubstrings:
    def _run(self, spark, rows, k=3, min_count=2):
        from v3_polars_spark.datapipe import dedup_substrings

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {
            r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"])
            for r in dedup_substrings(df, k=k, min_count=min_count).collect()
        }

    def test_cross_doc_span_removed_from_all(self, spark):
        out = self._run(
            spark,
            [
                (0, "alpha beta gamma delta unique0 tail0"),
                (1, "head1 alpha beta gamma delta unique1"),
                (2, "nothing shared here at all friend"),
            ],
        )
        # "alpha beta gamma delta" (4 tokens >= k=3, shared by 0 and 1)
        # is fully covered by its two duplicated 3-windows in both docs
        assert out[0] == ("unique0 tail0", 6, 4)
        assert out[1] == ("head1 unique1", 6, 4)
        assert out[2] == ("nothing shared here at all friend", 6, 0)

    def test_within_doc_repeat_removed(self, spark):
        out = self._run(spark, [(0, "x y z middle x y z end tok")])
        # "x y z" occurs twice in the SAME doc -> both occurrences removed
        assert out[0] == ("middle end tok", 9, 6)

    def test_short_doc_untouched(self, spark):
        out = self._run(spark, [(0, "one two"), (1, "one two")])
        # both docs shorter than k=3: no windows, nothing removed
        assert out[0] == ("one two", 2, 0)
        assert out[1] == ("one two", 2, 0)

    def test_fully_duplicated_doc_emptied(self, spark):
        out = self._run(spark, [(0, "a b c d"), (1, "a b c d")])
        assert out[0] == ("", 4, 4)
        assert out[1] == ("", 4, 4)

    def test_whitespace_normalized_and_empty_text(self, spark):
        out = self._run(
            spark, [(0, "  spaced   out\ttokens \n here  "), (1, "")]
        )
        # survivors rejoin with single spaces (documented contract)
        assert out[0] == ("spaced out tokens here", 4, 0)
        assert out[1] == ("", 0, 0)

    def test_min_count_threshold(self, spark):
        rows = [(i, "common span here uniq%d" % i) for i in range(3)]
        out3 = self._run(spark, rows, k=3, min_count=4)
        # "common span here" occurs 3x < min_count=4 -> kept everywhere
        assert out3[0][2] == 0
        out2 = self._run(spark, rows, k=3, min_count=3)
        assert all(v[2] == 3 for v in out2.values())


# ---------------------------------------------------------------------------
# cross-corpus near-dup dedup
# ---------------------------------------------------------------------------


class TestDedupAgainstNear:
    def test_near_dups_of_reference_dropped(self, spark):
        from v3_polars_spark.datapipe import dedup_against_near

        fresh = spark.createDataFrame(
            [(10, BASE), (11, NEAR_DUP), (12, UNRELATED)], ["doc_id", "text"]
        )
        ref = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
        kept = sorted(
            r["doc_id"]
            for r in dedup_against_near(fresh, ref, verify_threshold=0.5)
            .select("doc_id")
            .collect()
        )
        # 10 is an exact copy of ref, 11 a near dup -> both dropped;
        # 12 shares nothing with the reference corpus
        assert kept == [12]

    def test_empty_reference_keeps_everything(self, spark):
        from v3_polars_spark.datapipe import dedup_against_near

        fresh = spark.createDataFrame(
            [(1, BASE), (2, UNRELATED)], ["doc_id", "text"]
        )
        ref = spark.createDataFrame([], "doc_id long, text string")
        assert dedup_against_near(fresh, ref).count() == 2

    def test_threshold_controls_drop(self, spark):
        from v3_polars_spark.datapipe import dedup_against_near

        fresh = spark.createDataFrame([(1, NEAR_DUP)], ["doc_id", "text"])
        ref = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
        # one changed token: high threshold keeps it, low threshold drops
        assert dedup_against_near(fresh, ref, verify_threshold=0.95).count() == 1
        assert dedup_against_near(fresh, ref, verify_threshold=0.5).count() == 0

    def test_distinct_id_spaces_and_columns(self, spark):
        from v3_polars_spark.datapipe import dedup_against_near

        # overlapping ids between the two corpora must not leak matches,
        # and custom column names work on the reference side
        fresh = spark.createDataFrame(
            [(0, UNRELATED, "keepme")], ["doc_id", "text", "tag"]
        )
        ref = spark.createDataFrame([(0, BASE)], ["rid", "body"])
        out = dedup_against_near(
            fresh, ref, ref_text_col="body", ref_id_col="rid"
        ).collect()
        assert len(out) == 1 and out[0]["tag"] == "keepme"
