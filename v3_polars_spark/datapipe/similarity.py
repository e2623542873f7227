"""Similarity search over embedding columns (array<float>).

Two paths:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast (they're small by definition); the corpus is
  scanned once; per-partition top-k then global top-k via sort-limit
  (TakeOrdered — never a full global sort).
- ``cosine_topk_lsh``: random-hyperplane LSH — the scale path. Each vector
  gets a b-bit signature (sign of dot with b fixed pseudo-random planes);
  candidates come from bucket equality (optionally multi-probe), exact
  cosine re-ranks. At 100 TB the bucket join replaces the full scan per
  query with a hash lookup; planes are generated from a seed, so the index
  is reproducible.

All math is F.aggregate/zip_with sequential double accumulation — pure
column expressions, deterministic, and portable to a SQL oracle.

Implementation note (measured, sf0.1): an unrolled ``v[0]*w[0] + ... +
v[63]*w[63]`` chain produces the identical floats (same left-assoc order)
and whole-stage-codegens, but the ~130-node expression tree per dot makes
Catalyst analysis/codegen DOMINATE — 3-4x slower end-to-end than the
interpreted HOF fold at any size where the driver plans per query. The
HOF fold keeps plans small; at true scale the per-row lambda cost is
amortized across a long scan and the plan is built once.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cos(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def with_cosine(
    df: DataFrame, vec_a: str, vec_b: str, out: str = "cosine"
) -> DataFrame:
    a = F.col(vec_a).cast("array<double>")
    b = F.col(vec_b).cast("array<double>")
    return df.withColumn(out, _cos(a, b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, vec_id, cosine, rank). Ranking ties break on vec_id
    so results are total-order deterministic. The per-query window runs
    after a filter to candidate rows only when k << corpus — here it ranks
    the cross product, which is the exact-search cost by definition; the
    LSH variant is the way out at scale."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
        )
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv"))
    scored = q.crossJoin(c).select(
        query_id_col,
        id_col,
        _cos(F.col("__qv"), F.col("__cv")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _planes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a seed (LCG + Box-Muller
    — no numpy dependency in the plan; planes are plan-time constants)."""
    state = seed & 0x7FFFFFFF or 1

    def rnd() -> float:
        nonlocal state
        state = (1103515245 * state + 12345) % (1 << 31)
        return state / float(1 << 31)

    planes = []
    for _ in range(bits):
        v = []
        for _ in range(dim):
            # Box-Muller for gaussian components
            u1, u2 = max(rnd(), 1e-12), rnd()
            v.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(v)
    return planes


def lsh_bucket(vec_col: Column, dim: int, bits: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane signature: bit i = sign(v · plane_i). Returns a
    long bucket id. Pure column math — the planes fold into the plan as
    literals."""
    v = vec_col.cast("array<double>")
    planes = _planes(dim, bits, seed)
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in p]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return sig


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine(vec_a, vec_b) >= threshold. Output (id_a, id_b, cosine).

    This is the dedup-family analog of ``cosine_topk``: the O(n^2)
    correctness baseline an oracle can replicate. At scale use
    ``embedding_near_dup_lsh`` — same output contract, candidates pruned
    by hyperplane buckets instead of the full pair join."""
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("__va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("__vb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _cos(F.col("__va"), F.col("__vb"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    bits: int = 4,
    tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = True,
) -> DataFrame:
    """Approximate embedding near-dup pairs — the scale path.

    ``tables`` independent hyperplane signatures (different seeds) are
    emitted per vector in ONE posexplode pass; candidate pairs share any
    (table, bucket); the exact cosine filter then removes false positives,
    so precision is 1.0 and only recall is approximate. Recall for a pair
    at angle theta: 1-(1-p^bits)^tables with p = 1-theta/pi. The pair join
    shuffles on (table, bucket) — no O(n^2) cross product.

    ``collapse_exact`` (default on): within-bucket candidate pairs grow
    quadratically with exact vector duplication (dup docs carry dup
    embeddings), so — as in the text dedup family — vectors are grouped
    by exact content (md5 of the double-array rendering; distinct doubles
    render distinctly, so groups merge only true bit-equals), LSH runs on
    one representative per distinct vector, and pairs are reconstructed
    afterward. Cross-group pairs inherit the representatives' cosine
    (identical vectors ⇒ identical buckets and identical cosine);
    within-group pairs carry the COMPUTED self-cosine ``_cos(v, v)`` —
    not a literal 1.0 — so the last-ulp FP behavior (and the zero-vector
    NaN → filtered case) is bit-identical to the uncollapsed pipeline
    and its SQL oracle."""
    from .dedup import _bucket_pairs, _collapse_exact, _expand_collapsed_pairs

    v = F.col(vec_col).cast("array<double>")
    vecs = df.select(F.col(id_col), v.alias("__v"))
    if collapse_exact:
        groups = _collapse_exact(
            vecs, id_col, F.md5(F.col("__v").cast("string")), ("__v",)
        )
        reps = groups.select(F.col("__rep").alias(id_col), F.col("__v").alias(vec_col))
        rep_pairs = embedding_near_dup_lsh(
            reps, dim, threshold, bits, tables, seed, id_col, vec_col,
            collapse_exact=False,
        )
        self_cos = _cos(F.col("__v"), F.col("__v"))
        return _expand_collapsed_pairs(
            rep_pairs, groups, "cosine", F.when(self_cos >= threshold, self_cos)
        )
    buckets = F.array(
        *[lsh_bucket(v, dim, bits, seed + 1000003 * t) for t in range(tables)]
    )
    # bucket rows carry ONLY (id, table, bucket) — shuffling the vector
    # payload tables-times through the pair join would dominate exchange
    # volume at scale; vectors re-attach to the deduped id pairs below
    banded = df.select(
        F.col(id_col), F.posexplode(buckets).alias("table", "bucket")
    )
    # one pass over the bucket stream (sorted-id-array pair expansion)
    # instead of a bucket self-join that evaluates the signature subtree
    # once per side — see dedup._bucket_pairs
    ids = _bucket_pairs(banded, id_col, ["table", "bucket"])
    cand = ids.join(
        vecs.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va")), "id_a"
    ).join(
        vecs.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb")), "id_b"
    )
    cos = _cos(F.col("__va"), F.col("__vb"))
    return (
        cand.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train an IVF coarse quantizer: (cluster_id, centroid array<double>).

    Seeds are the n_centroids corpus vectors with smallest md5-prefix
    hash of their id — a deterministic distributed sample (TakeOrdered,
    never a full sort) that any SQL engine replays exactly.
    ``iters`` Lloyd steps refine them: assign every vector to its nearest
    centroid (broadcast join + max_by — one scan, no shuffle of vectors),
    then recompute centroids as element-wise means via posexplode →
    groupBy(cluster, pos) avg → re-assemble. All built-in column ops."""
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    seed_h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10
    ).cast("long")
    seeds = (
        c.orderBy(seed_h.asc(), F.col(id_col).asc())
        .limit(n_centroids)
        .select(F.col("__v").alias("centroid"))
    )
    w = Window.orderBy(F.col("centroid"))
    centroids = seeds.withColumn(
        "cluster_id", (F.row_number().over(w) - 1).cast("long")
    ).select("cluster_id", "centroid")
    for _ in range(iters):
        assigned = ivf_assign(c, centroids)
        centroids = (
            assigned.select(
                "cluster_id", F.posexplode(F.col("__v")).alias("pos", "x")
            )
            .groupBy("cluster_id", "pos")
            .agg(F.avg("x").alias("x"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "x"))),
                    lambda s: s["x"],
                ).alias("centroid")
            )
        )
    return centroids


def ivf_assign(c: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by cosine: broadcast the (small)
    centroid table against the corpus, keep the argmax via max_by.
    Input ``c`` is (id, __v); output (id, __v, cluster_id). Ties prefer
    the lower cluster_id so assignment is deterministic."""
    id_col = c.columns[0]
    cos = _cos(F.col("__v"), F.col("centroid"))
    return (
        c.crossJoin(F.broadcast(centroids))
        .select(F.col(id_col), F.col("__v"), F.col("cluster_id"), cos.alias("__cos"))
        .groupBy(id_col)
        .agg(
            F.first("__v").alias("__v"),
            F.max_by(
                "cluster_id",
                F.struct(F.col("__cos"), (-F.col("cluster_id")).alias("tb")),
            ).alias("cluster_id"),
        )
        # precomputed vector norm: ivf_search's exact re-rank divides by
        # norm(__v) per candidate row; materializing it once at index
        # build replaces two of the three interpreted HOF passes per
        # candidate (dot + both norms -> dot only). Same fold order and
        # IEEE ops, so cosine values are bit-identical.
        .withColumn("__vn", _norm(F.col("__v")))
    )


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index once: (centroids, assigned corpus). The index is
    a build-once artifact — callers cache/persist both frames and serve
    every subsequent query batch from them (``ivf_search``), exactly like a
    FAISS index living beside the corpus. At 100 TB this is the operative
    split: one corpus scan builds assignments; probes never rescan."""
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    centroids = ivf_build(corpus, n_centroids, iters, id_col, vec_col)
    assigned = ivf_assign(c, centroids)
    return centroids, assigned


# Inline-probe cap: above this many centroids the literal sort expression
# stops being reasonable codegen and the general broadcast-join plan wins
# anyway (the window over n_queries x n_centroids rows is then real work,
# not overhead).
_INLINE_CENTROIDS = 64


def _inline_probes(
    q: DataFrame,
    cents: list,
    n_probe: int,
    query_id_col: str,
) -> DataFrame:
    """Literal-centroid probe ranking: one generated SQL expression per
    centroid (a single parsed string — per-Column py4j round trips would
    cost ~ms each), sorted as ``struct(__nk, cluster_id)`` ascending
    where ``__nk = coalesce(nanvl(-cos, -2.0), 2.0)``:

    - finite cos: ``-cos`` ascending == cos descending, ties by
      cluster_id — exactly the window ordering;
    - NaN cos (zero-norm query or centroid): the window's ``desc`` sorts
      NaN first (NaN > any double in Spark ordering); ``-2.0`` sorts
      before every finite ``-cos`` (cos in [-1, 1]);
    - NULL cos (null embedding): ``desc`` is NULLS LAST; ``2.0`` sorts
      after every finite key. (+-Inf cosines are unreachable: zero
      norms zero the dot product first.)

    The centroid norm is computed driver-side with the same left-fold
    order and IEEE doubles as ``_norm``, and literals round-trip through
    repr exactly, so cosines match the broadcast-join plan bit-for-bit."""
    import math

    structs = []
    for row in sorted(cents, key=lambda r: r["cluster_id"]):
        cid = int(row["cluster_id"])
        vec = list(row["centroid"] or [])
        norm = math.sqrt(sum((float(x) * float(x) for x in vec), 0.0))
        arr = "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"
        dot = (
            f"aggregate(zip_with(__qv, {arr}, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        cos = f"(({dot}) / (__qn * {norm!r}D))"
        nk = f"coalesce(nanvl(-({cos}), -2.0D), 2.0D)"
        structs.append(f"named_struct('nk', {nk}, 'cluster_id', {cid}L)")
    ranked = (
        f"slice(array_sort(array({', '.join(structs)})), 1, {int(n_probe)})"
    )
    return q.select(
        F.col(query_id_col),
        "__qv",
        "__qn",
        F.explode(F.expr(ranked)).alias("__p"),
    ).select(
        query_id_col,
        "__qv",
        "__qn",
        F.col("__p.cluster_id").alias("cluster_id"),
    )


def ivf_search(
    centroids: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a prebuilt IVF index (``ivf_index``): rank the ``n_probe``
    nearest centroids per query, search only their inverted lists, exact
    cosine re-rank. Output (query_id, vec_id, cosine, rank).

    Probe ranking is INLINED when the centroid table is small (the
    normal IVF regime — it is a coarse quantizer): the centroids are
    fetched once at plan-build time (bounded: ``_INLINE_CENTROIDS`` rows
    of dim doubles) and the per-query n_probe selection compiles to one
    sort of a literal-centroid struct array — replacing a broadcast
    build + cross join + window exchange + row_number chain that cost
    ~0.25 s of per-run stage constants for 9 probe rows (measured
    sf0.1). The sort key reproduces the window ordering exactly,
    including NaN-first / NULL-last desc semantics (see ``__nk``
    construction). Falls back to the general crossJoin+window plan when
    the centroid table is larger than the inline cap.

    The exact re-rank divides by the index-time ``__vn`` norm column
    when present (``ivf_assign``), and recomputes it for indexes
    persisted before that column existed; the query-side norm is bound
    once per query row instead of per candidate."""
    import math

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
    )
    q = q.withColumn("__qn", _norm(F.col("__qv")))
    cents = centroids.select("cluster_id", "centroid").limit(
        _INLINE_CENTROIDS + 1
    ).collect()
    # Inline only when every centroid component AND its norm are finite:
    # a NaN/Inf component (reachable when any corpus embedding carries
    # NaN — ivf_build's means propagate it) would render as 'nanD' /
    # 'infD', which Spark SQL cannot parse, and an overflowed norm would
    # change the cosine; the general plan merely produces NaN (or, for a
    # NULL component, NULL) cosines ranked deterministically, so it is
    # the safe fallback.
    def _row_finite(row) -> bool:
        vec = [math.nan if y is None else float(y) for y in (row["centroid"] or [])]
        return all(map(math.isfinite, vec)) and math.isfinite(
            math.sqrt(sum((v * v for v in vec), 0.0))
        )

    finite = len(cents) <= _INLINE_CENTROIDS and all(
        _row_finite(r) for r in cents
    )
    if finite:
        probes = _inline_probes(q, cents, n_probe, query_id_col)
    else:
        # the general crossJoin+window plan would re-evaluate the
        # centroid plan (a full k-means pass when uncached) once per
        # ACTION on top of the bounded collect above; persist the
        # projection so the first action materializes it once
        # (tracked — release_intermediates frees it)
        from .dedup import _track

        cents_df = _track(centroids.select("cluster_id", "centroid"))
        qcos = _cos(F.col("__qv"), F.col("centroid"))
        wq = Window.partitionBy(query_id_col).orderBy(
            F.col("__qcos").desc(), F.col("cluster_id").asc()
        )
        probes = (
            q.crossJoin(F.broadcast(cents_df))
            .select(
                query_id_col, "__qv", "__qn", "cluster_id", qcos.alias("__qcos")
            )
            .withColumn("__pr", F.row_number().over(wq))
            .filter(F.col("__pr") <= n_probe)
            .select(query_id_col, "__qv", "__qn", "cluster_id")
        )
    cand = F.broadcast(probes).join(assigned, "cluster_id")
    # coalesce onto the recompute: a mixed-schema persisted index (seed
    # segments written before __vn existed, streamed segments after) can
    # surface __vn as NULL for old-segment rows — dividing by NULL would
    # silently null those candidates' cosines
    vn = (
        F.coalesce(F.col("__vn"), _norm(F.col("__v")))
        if "__vn" in assigned.columns
        else _norm(F.col("__v"))
    )
    cos = _dot(F.col("__qv"), F.col("__v")) / (F.col("__qn") * vn)
    scored = cand.select(query_id_col, F.col(id_col), cos.alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: ``ivf_index`` + ``ivf_search`` in one call
    (index rebuilt per call — amortizing callers use the split API). Same
    output contract as ``cosine_topk`` (query_id, vec_id, cosine, rank).

    Scale shape: centroid table is tiny (broadcast both ways); the corpus
    is scanned once to build assignments (cacheable across queries); the
    candidate join shuffles on cluster_id — cost ~ n_probe/n_centroids of
    the exact scan."""
    centroids, assigned = ivf_index(corpus, n_centroids, iters, id_col, vec_col)
    return ivf_search(
        centroids, assigned, queries, k, n_probe, id_col, vec_col, query_id_col
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket;
    exact cosine re-ranks within candidates. Recall/cost trades via
    ``bits`` (fewer bits → bigger buckets → higher recall, more compute)."""
    c = corpus.withColumn("__bucket", lsh_bucket(F.col(vec_col), dim, bits, seed))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        ).withColumn("__bucket", lsh_bucket(F.col("__qv"), dim, bits, seed))
    )
    cand = q.join(c, "__bucket").select(
        query_id_col,
        id_col,
        _cos(F.col("__qv"), F.col(vec_col).cast("array<double>")).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def ann_recall_check(
    approx: DataFrame,
    exact: DataFrame,
    k: int = 10,
    min_recall: float = 0.95,
    strict_min_recall: float | None = None,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an ANN result against the brute-force ground truth,
    with the accuracy contract emitted IN-PLAN — the
    ``approx_distinct``/``kll_quantile_check`` pattern applied to ANN:
    approximate ids are engine/parameter-specific, so the verifiable
    artifact is the recall statistic itself, recomputed from both result
    sets inside the plan. Per-query recall = |approx∩exact| / |exact|
    over each side's rank ≤ k rows; output is ONE row
    ``(k, n_queries, mean_recall, min_query_recall, recall_ok)`` with
    ``recall_ok = mean_recall >= min_recall``. ``strict_min_recall``
    appends a second boolean ``recall_ok_strict`` — for deployments that
    track a corpus-scale SLO (0.95) alongside the small-sample gate
    threshold (uniform synthetic vectors are ANN's worst case: no
    cluster structure, so recall at tiny corpus sizes understates the
    production figure — measured 0.77-0.93 at sf0.01-0.1 vs 1.0 at sf1
    for the same nprobe).

    This is the knob audit nprobe/bits choices need at scale: an IVF
    index that silently degraded to recall 0.4 still hash-matches its
    own replayed oracle — only a ground-truth comparison catches it.
    Both inputs follow the (query_id, vec_id, rank) output contract of
    ``cosine_topk``/``ivf_search``/``cosine_topk_lsh``. Cost: two
    rank-filtered frames of n_queries×k rows — negligible next to either
    search; ground truth at 100 TB comes from brute-forcing a SAMPLE of
    queries, which this consumes unchanged."""
    a = (
        approx.filter(F.col("rank") <= k)
        .select(query_id_col, id_col)
        # multi-table LSH unions / rank ties can emit the same (query,
        # vec) twice; a duplicate would fan out the left join below and
        # inflate both the hit sum and the per-query denominator.
        .dropDuplicates([query_id_col, id_col])
        .withColumn("__hit", F.lit(1))
    )
    e = exact.filter(F.col("rank") <= k).select(query_id_col, id_col)
    perq = (
        e.join(a, [query_id_col, id_col], "left")
        .groupBy(query_id_col)
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1))
            ).alias("recall")
        )
    )
    cols = [
        F.lit(k).alias("k"),
        F.col("n_queries"),
        F.round(F.col("__mean"), 6).alias("mean_recall"),
        F.round(F.col("__min"), 6).alias("min_query_recall"),
        (F.col("__mean") >= F.lit(float(min_recall))).alias("recall_ok"),
    ]
    if strict_min_recall is not None:
        cols.append(
            (F.col("__mean") >= F.lit(float(strict_min_recall))).alias(
                "recall_ok_strict"
            )
        )
    return perq.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg("recall").alias("__mean"),
        F.min("recall").alias("__min"),
    ).select(*cols)


def normalize_l2(df: DataFrame, vec_col: str = "embedding", out: str | None = None) -> DataFrame:
    """Unit-normalize a vector column (zero vectors pass through as-is so
    downstream dot products read 0, not NaN). After normalization cosine
    becomes a plain dot product — IVF/LSH probes skip the per-row norm."""
    v = F.col(vec_col)
    n = _norm(v)
    unit = F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)
    return df.withColumn(out or vec_col, unit)


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out: str = "q8"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale). Cuts vector storage/shuffle width 4x —
    the memory-bound half of large-scale ANN — while keeping a per-vector
    ``scale`` column for dequantization (x ≈ q * scale). Pure column
    expressions; zero vectors get scale 0 and all-zero codes."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.withColumn(out, q).withColumn(f"{out}_scale", scale)


def dequantize_int8(
    df: DataFrame, q_col: str = "q8", scale_col: str = "q8_scale", out: str = "deq"
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: x ≈ q * scale."""
    s = F.col(scale_col)
    return df.withColumn(
        out, F.transform(F.col(q_col), lambda q: q.cast("double") * s)
    )


# ---------------------------------------------------------------------------
# corpus drift in embedding space
# ---------------------------------------------------------------------------


def embedding_centroids(
    df: DataFrame,
    by: list[str],
    vec_col: str = "embedding",
    out: str = "centroid",
) -> DataFrame:
    """Per-group mean embedding: ``by... , centroid array<double>, n``.

    Element sums accumulate as decimal(38,10) (order-independent exact
    arithmetic — float summation order varies with partitioning, decimal
    does not), divided once as double. Plan: posexplode → one hash agg on
    (group, position) → one collect per group re-assembling the array in
    position order; rows after the explode are #rows × dim, then
    everything is #groups × dim — nothing data-sized is collected or
    windowed."""
    pos = df.select(
        *by, F.posexplode(F.col(vec_col).cast("array<double>")).alias("__p", "__v")
    )
    comps = pos.groupBy(*by, "__p").agg(
        (
            F.sum(F.col("__v").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__c"),
        F.count(F.lit(1)).alias("__n"),
    )
    packed = comps.groupBy(*by).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__p", "__c"))), lambda s: s["__c"]
        ).alias(out),
        F.max("__n").alias("n"),
    )
    return packed


def centroid_drift(
    df: DataFrame,
    by: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairwise cosine between group centroids — corpus drift in
    embedding space (are yesterday's and today's crawls, or two sources,
    pointing the same way?). Returns one row per unordered group pair:
    ``(a, b, n_a, n_b, cosine)``. The centroid frame is #groups rows, so
    the pairwise join is dimension-table-sized regardless of input."""
    c = embedding_centroids(df, [by], vec_col)
    a = c.select(
        F.col(by).alias("a"), F.col("centroid").alias("__ca"), F.col("n").alias("n_a")
    )
    b = c.select(
        F.col(by).alias("b"), F.col("centroid").alias("__cb"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", "n_a", "n_b", _cos(F.col("__ca"), F.col("__cb")).alias("cosine"))
    )
