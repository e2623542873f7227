"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (the point of each implementation):

- exact dedup: hash aggregate on the fingerprint — one shuffle, map-side
  combine; never a window over the full corpus.
- MinHash+LSH: the candidate generation is shingle-explode → per-doc
  signature (groupBy doc) → band buckets → in-bucket pairs. All shuffles
  key on short hashes; no O(n²) pair enumeration ever materializes. The
  signature permutations use double hashing (h_i = h1 + i*h2 over 56-bit
  md5-prefix ints — Kirsch-Mitzenmacher), engine-portable pure SQL, so
  oracles replicate them exactly at 2 md5s per shingle instead of K.
- SimHash: per-token 64-bit hashes reduced by weighted bit-majority into
  one signature per doc; near-dups = signatures within Hamming distance k
  (banded equality prefilter for scale).
- n-gram Jaccard: exact verify step for candidate pairs (used after LSH,
  or standalone at small scale).
- embedding cosine: see similarity.py; near-dup = cos >= threshold.

The four pair operators (minhash, n-gram, hamming, embedding-LSH) share
one exact-collapse primitive and one pair expander. ``_collapse_exact``
groups identical inputs into one persisted ``(__rep, __ids, payload)``
row per distinct key, the operator runs on the representatives, and
``_expand_collapsed_pairs`` restores every member pair. All in-task pair
generation — within-group pairs and LSH bucket candidates alike — goes
through ``_pair_blocks``, which emits a d-id group as id-block pairs so
no generated array exceeds ``_PAIR_BLOCK``² pairs however skewed the
groups or buckets are.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import fingerprint_md5, normalize_text

# ---------------------------------------------------------------------------
# persisted-intermediate tracking
# ---------------------------------------------------------------------------

# Shingle/edge intermediates are persisted because their common subtree has
# no exchange boundary (pure scan+regex projection), so Spark's reuse rules
# would re-execute it once per consumer. Persisted frames outlive the
# returned lazy DataFrame; long-lived sessions call release_intermediates()
# after consuming results to free executor storage.
_INTERMEDIATES: list = []


def _track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and remember it for ``release_intermediates``."""
    df.persist()
    _INTERMEDIATES.append(df)
    return df


def release_intermediates() -> int:
    """Unpersist every tracked intermediate; returns how many were freed.
    Safe to call any time — consumed results are unaffected (they rebuild
    from lineage if re-executed)."""
    n = 0
    while _INTERMEDIATES:
        df = _INTERMEDIATES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def reset_intermediates() -> int:
    """Drop every tracked intermediate's materialized blocks but keep the
    frame REGISTERED for caching: unpersist (reverse creation order, so
    dependents release before their upstreams; blocking, so no stale block
    survives into a following measurement) then re-persist (creation
    order, unmaterialized). The next action that references a frame
    rebuilds it from lineage inside that action.

    This is the bench-honesty hook: calling it between timed trials makes
    every trial pay the query's own intermediate-build cost (shingle sets,
    collapse members/reps, vocab, encode frames) instead of re-reading
    blocks materialized by an earlier untimed pass — while the
    within-trial multi-consumer reuse that justifies the persists (guide
    §2.4) still applies. Session-level working-set caches (the base-table
    analog of the reference's in-RAM pool) are not tracked here and are
    unaffected."""
    for df in reversed(_INTERMEDIATES):
        try:
            df.unpersist(blocking=True)
        except Exception:
            pass
    for df in _INTERMEDIATES:
        try:
            df.persist()
        except Exception:
            pass
    return len(_INTERMEDIATES)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.
    Plan: fingerprint (no shuffle) → groupBy(fp).min(id) → semi join back
    **on the id alone**: ids are unique, so the fp-equality term adds
    nothing — and keeping fp out of the join means the md5+normalize
    pipeline runs ONCE (inside the survivor derivation) instead of twice
    (the raw ``df`` side needs no fingerprint column). The survivor-id set
    is one long per distinct text — broadcast when small, hash semi join
    otherwise."""
    fp = fingerprint_md5(df, text_col)
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(keep, [id_col], "left_semi")


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Cross-corpus exact dedup: drop rows of ``df`` whose normalized text
    already exists in ``reference`` (dedup a fresh crawl against the
    corpus already trained on). One anti join on the md5 fingerprint —
    the reference side reduces to its distinct fingerprint set (one
    column), which broadcasts while small and hash-joins at scale; the
    new-data side is never shuffled beyond that join. Content-level
    (n-gram) decontamination is ``quality.contamination_check``; this is
    the cheap whole-document pass that runs first.
    """
    fp = fingerprint_md5(df, text_col)
    ref_fp = (
        fingerprint_md5(reference, ref_text_col or text_col)
        .select("fp")
        .distinct()
    )
    return fp.join(ref_fp, ["fp"], "left_anti").drop("fp")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def _shingle_base(df: DataFrame, text_col: str, id_col: str, n: int):
    """(base_df with bound __toks column, distinct-shingle array expr).

    The token array is bound to a real column in a separate projection
    BEFORE the transform: expressions inside higher-order-function lambdas
    get no common-subexpression elimination, so inlining
    split(normalize(text)) there re-runs the regex pipeline once per
    shingle index (~3.4x slower end-to-end at sf0.1). Consumers must
    build their final expression (array_distinct / explode) in ONE select
    over ``base`` — stacking another select on top lets CollapseProject
    merge the projections and re-inline the split (split appears 7x in
    the optimized plan and runtime regresses ~10x)."""
    base = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__toks")
    )
    toks = F.col("__toks")
    n_sh = F.size(toks) - F.lit(n - 1)
    # guard: sequence(0, -1) would generate a DESCENDING sequence
    idx = F.when(n_sh > 0, F.sequence(F.lit(0), n_sh - 1)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return base, F.array_distinct(sh)


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document as a per-doc ARRAY:
    (id_col, shset array<string>). Completely shuffle-free: the sliding
    window is transform+slice over the token array and dedup is
    array_distinct — never a global DISTINCT exchange."""
    base, shset = _shingle_base(df, text_col, id_col, n)
    return base.select(F.col(id_col), shset.alias("shset"))


def shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded form of ``shingle_sets``: (id_col, shingle) rows, distinct
    per document. No shuffle — per-doc dedup happens in the array before
    the explode. Built as ONE select over the token projection (see
    ``_shingle_base`` for why)."""
    base, shset = _shingle_base(df, text_col, id_col, n)
    return base.select(F.col(id_col), F.explode(shset).alias("shingle"))


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    collapse_exact: bool = True,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets for all pairs
    sharing at least one shingle. Output: (id_a, id_b, jaccard), id_a<id_b.

    The shared-shingle equi-join bounds the pair space to actually-similar
    candidates; |A∪B| = |A|+|B|-|A∩B| avoids a second pass over sets.

    ``collapse_exact`` (default on): the shared-shingle self-join emits
    d^2 rows per shingle appearing in d docs, so d-fold exact duplication
    inflates the join quadratically. As in :func:`minhash_lsh_pairs`, docs
    are first grouped by shingle-set equality (md5 of the to_json'd sorted
    set — escaping-proof against separator ambiguity in shingle strings),
    the join runs on one representative per distinct set, and the full
    pair list is reconstructed afterward — row-identical, since identical
    sets have identical intersections with every other set."""
    sh = _track(shingles(df, text_col, id_col, n))
    if collapse_exact:
        per_doc = sh.groupBy(id_col).agg(
            F.md5(F.to_json(F.sort_array(F.collect_set("shingle")))).alias("__gk")
        )
        groups = _collapse_exact(per_doc, id_col, "__gk")
        # reps persisted: _ngram_jaccard_core consumes it three times
        # (sizes + both join sides), and each consumer would otherwise
        # re-run the semi-join over the full exploded-shingle cache
        reps = _track(
            sh.join(
                groups.select(F.col("__rep").alias(id_col)),
                id_col,
                "leftsemi",
            )
        )
        rep_pairs = _ngram_jaccard_core(reps, id_col, threshold)
        return _expand_collapsed_pairs(
            rep_pairs, groups, "jaccard", F.when(F.lit(threshold) <= 1.0, 1.0)
        )
    return _ngram_jaccard_core(sh, id_col, threshold)


def _ngram_jaccard_core(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The shared-shingle join + Jaccard over an exploded (id, shingle)
    frame — see :func:`ngram_jaccard_pairs`."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# hashed shingles (the minhash scale path)
# ---------------------------------------------------------------------------

# Polynomial-combine modulus: largest prime < 2^55. acc*B + tok_hash peaks
# at (M-1)*127 + 2^56 < 2^63, so the fold never overflows a BIGINT in any
# engine (DuckDB errors on overflow; Spark would silently wrap).
POLY_MOD = 36028797018963913
POLY_B = 127
# Universal-hash permutation prime: smallest prime > 2^40. a*(s%P) + b peaks
# at (2^22-1)*(P-1) + (P-1) < 2^63.
PERM_P = 1099511627791
_PERM_A_RANGE = (1 << 22) - 1


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the permutation family
    h_i(s) = (a_i * (s mod P) + b_i) mod P — the classic universal-hash
    minhash permutations. Derived from md5 so any engine (or an oracle SQL
    builder) regenerates the identical constants."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"mh:a:{i}".encode()).hexdigest()[:6], 16)
        b = int(hashlib.md5(f"mh:b:{i}".encode()).hexdigest()[:10], 16)
        out.append((a % _PERM_A_RANGE + 1, b % PERM_P))
    return out


def _token_hash(col: Column) -> Column:
    """56-bit engine-portable token hash: md5 prefix → BIGINT (the same
    construction as ``_minhash_h1_h2``/``simhash``, one md5 per token)."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def shingle_hash_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document as 55-bit INTEGER hashes:
    (id_col, shset array<long>).

    Each token is md5-hashed ONCE; a shingle is the modular polynomial
    combine of its n token hashes (acc = (acc*B + h) mod M). Versus string
    shingles this does a third of the md5 work on ~3x-shorter inputs and
    never allocates the joined shingle strings — the downstream minhash,
    distinct, and intersect all run on longs. Collision probability at
    2^55 is ~|shingles|^2/2^56 per corpus — negligible below ~10^8 distinct
    shingles per comparison domain.

    Plan-shape note (same CollapseProject trap as ``_shingle_base``): the
    token-hash array is bound to ``__th`` in its own projection, and the
    combine references ``__th`` n+1 times (size + n gets) so CollapseProject
    will not re-inline the md5 transform into the shingle lambda."""
    base = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__toks")
    )
    hashed = base.select(
        F.col(id_col),
        F.transform(F.col("__toks"), _token_hash).alias("__th"),
    )
    th = F.col("__th")
    n_sh = F.size(th) - F.lit(n - 1)
    idx = F.when(n_sh > 0, F.sequence(F.lit(0), n_sh - 1)).otherwise(
        F.array().cast("array<int>")
    )

    def _comb(i: Column) -> Column:
        acc = F.get(th, i) % F.lit(POLY_MOD)
        for j in range(1, n):
            acc = (acc * F.lit(POLY_B) + F.get(th, i + j)) % F.lit(POLY_MOD)
        return acc

    sh = F.transform(idx, _comb)
    return hashed.select(F.col(id_col), F.array_distinct(sh).alias("shset"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_h1_h2() -> tuple[Column, Column]:
    """The two base hashes for double-hashing minhash: 56-bit ints from
    md5 prefixes (14 hex chars), identical in any engine that has md5 and
    hex→int conversion. h_i = h1 + i*h2 stays < 2^61 for i < 16 — plain
    long arithmetic, no modulus, no overflow."""
    h1 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 14), 16, 10).cast("long")
    h2 = F.conv(
        F.substring(F.md5(F.concat(F.lit("B:"), F.col("shingle"))), 1, 14), 16, 10
    ).cast("long")
    return h1, h2


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """(id, h0..h{K-1} long): sig[i] = min over shingles of h1 + i*h2
    (double hashing — Kirsch-Mitzenmacher): TWO md5s per shingle instead
    of K, then K cheap long multiply-adds; min is an ordinary agg
    (map-side combinable). Engine-portable: md5 prefix → int is exact in
    any SQL engine."""
    # h1 + i*h2 with 56-bit bases stays under 2^63 only for i <= 63
    assert num_hashes <= 64, "num_hashes > 64 overflows the 56-bit double-hash"
    h1, h2 = _minhash_h1_h2()
    mins = [
        F.min(h1 + F.lit(i) * h2).alias(f"h{i}") for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: hashed shingle sets → K minhashes via a
    universal-hash permutation family → B bands of R=K/B rows → bucket join
    → exact-Jaccard verify of candidates.

    Output: (id_a, id_b, jaccard) for candidates with exact Jaccard >=
    verify_threshold (Jaccard over the 55-bit shingle-hash sets — equal to
    string-shingle Jaccard up to ~2^-56-probability hash collisions).

    Scale design: shingle sets are per-doc arrays of LONGS
    (``shingle_hash_sets``) — one md5 per token total, and every
    downstream op (signature min-agg, band fold, distinct, verify
    intersect) is long arithmetic, never string building. The only real
    exchanges are the signature groupBy (tiny map-side-combined partials)
    and the band-bucket self-join (short uniform keys, skew-free).
    Verification is size(array_intersect(set_a, set_b)) on the joined
    candidate rows — per-row column math instead of a second shingle-level
    shuffle join. Everything is md5+modular arithmetic, so a SQL oracle
    replays signatures, buckets, and verify bit-for-bit.

    ``collapse_exact`` (default on) runs the textbook pipeline ordering —
    exact-dedup before near-dedup: docs are grouped by shingle-SET
    equality, the LSH/verify machinery runs on one representative per
    distinct set, and the full pair list is reconstructed afterward by
    joining group members (cross-group pairs inherit the representatives'
    jaccard; within-group pairs are jaccard 1.0 by definition). The
    result is row-identical to the uncollapsed pipeline — identical sets
    have identical signatures, buckets, and jaccard — but candidate
    verification never re-carries the heavy shingle arrays per duplicate
    pair: on a corpus with d-fold exact duplication the verify join and
    candidate distinct shrink by d^2 (measured at the 60 M-row scale
    point, where 100x replication means 10,000x fewer candidate rows:
    36.5 s → the shingle-bound floor).

    Contract (all pair operators): ``id_col`` is unique per row — the
    engine's table-key invariant. Rows sharing an id are a caller error
    (the uncollapsed and collapsed paths diverge on how they merge
    them)."""
    assert num_hashes % bands == 0

    # No size(shset)>0 filter: docs with no shingles yield no exploded
    # rows, hence no signature, no bucket, no candidate — the filter was
    # redundant AND forced CollapseProject to re-inline the shingle
    # expression into the filter condition (split x4 in the plan).
    #
    # The shingle frame is persisted ONLY on the uncollapsed path, where
    # it has three consumers (signature build + both verify sides). On
    # the collapsed path its single consumer is the collapse chain — the
    # persisted ``reps`` frame serves signatures and verify — and a
    # single-consumer persist pays a materialization pass (plus, under
    # AQE, ~2 scheduling-floor jobs per execution) for nothing.
    if not collapse_exact:
        sets = _track(shingle_hash_sets(df, text_col, id_col, n))
        return _lsh_pairs_from_sets(
            sets, id_col, num_hashes, bands, verify_threshold
        )
    groups, rep_pairs = _minhash_collapse_graph(
        shingle_hash_sets(df, text_col, id_col, n),
        id_col, num_hashes, bands, verify_threshold,
    )
    return _expand_collapsed_pairs(
        rep_pairs, groups, "jaccard", F.when(F.lit(verify_threshold) <= 1.0, 1.0)
    )


def _collapse_parts(df: DataFrame) -> int:
    """Partition count for a post-collapse representative cache: the
    collapse window emits ``spark.sql.shuffle.partitions`` partitions
    (sized by the session rule to ~64 MB of PRE-collapse data each), but
    the representative frame holds one row per DISTINCT key — on a
    duplication-heavy corpus that is a tiny fraction, and keeping the
    full width makes every downstream stage pay M x R tiny shuffle
    blocks and per-task scheduling for near-empty partitions (guide
    §2.2 at miniature scale: measured 2.9 s -> 1.1 s on the sf1 minhash
    pipeline from this coalesce alone). ``parent // 10`` is
    scale-adaptive, not a local constant: worst case (no duplication at
    all) a task carries 10 x the 64 MB sizing target = 640 MB — inside
    the guide's 100 MB-1 GB per-task range — and every downstream
    shuffle re-widens via AQE; with real duplication the cache collapses
    to a handful of full partitions. coalesce() is shuffle-free.

    The ``defaultParallelism // 4`` floor keeps a duplication-FREE
    corpus from losing its compute width: at interactive sizes
    ``parent // 10`` alone rounds to ~1 partition, and a reps frame that
    did NOT shrink (sf0.1 has no exact duplicates) then runs its
    candidate verify nearly single-threaded — measured
    dp_embed_neardup_lsh 3.0 s -> 9.0 s before the floor. With the
    floor the no-duplication case keeps (at least a quarter of) the
    cores busy while the high-duplication case still collapses to few
    full partitions."""
    spark = df.sparkSession
    parent = int(spark.conf.get("spark.sql.shuffle.partitions"))
    floor = min(parent, max(1, spark.sparkContext.defaultParallelism // 4))
    return max(floor, parent // 10)


def _collapse_exact(
    frame: DataFrame, id_col: str, key: str | Column, payload: tuple[str, ...] = ()
) -> DataFrame:
    """The exact-collapse state every pair operator shares: one tracked,
    coalesced row per distinct ``key`` (a column name or expression) —
    ``(key, __rep, __ids, *payload)``, with ``__rep`` the min id and
    ``__ids`` the member-id list.

    ONE groupBy aggregation, so the exchange carries map-side PARTIAL
    aggregates: on a duplication-heavy corpus co-partitioned duplicates
    collapse before the shuffle, and the payload bytes cross once per
    (group x input partition) instead of once per row (guide §2.3); no
    window sort. ``first(payload)`` is a valid representative because
    the key is a rendering of the payload, so every row in a group
    carries the same value and which member's copy survives is
    unobservable downstream. Under AQE every persisted-frame reference
    spawns its own TableCacheQueryStage job (~30-50 ms scheduling floor
    each, measured), so this is the ONLY persisted frame of a collapse:
    members and representatives are narrow derivations of it."""
    return _track(
        frame.groupBy(key)
        .agg(
            F.min(id_col).alias("__rep"),
            F.collect_list(F.col(id_col)).alias("__ids"),
            *[F.first(c).alias(c) for c in payload],
        )
        .coalesce(_collapse_parts(frame))
    )


def _minhash_collapse_graph(
    sets: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    verify_threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """(groups, rep_pairs) over a ``(id_col, shset)`` frame.

    exact-collapse (:func:`_collapse_exact`): one row per distinct
    shingle set. Group key = md5 of the SORTED set rendered to string
    (16-byte shuffle keys instead of shuffling the arrays themselves);
    sort_array makes set-equality, not array-order, the grouping
    relation. Signatures (explode + min), verify (array_intersect /
    size) and jaccard are set-functions, so the representative
    ``first(shset)`` is exact. Docs with empty sets produce no signature
    in the uncollapsed pipeline, hence no pairs — exclude them from
    groups so within-group expansion cannot invent pairs for them.

    The empty-set exclusion happens AFTER the persisted aggregate
    (``size(shset)`` filter on the cached frame), never as a filter on
    the computed ``shset`` upstream of it: a pre-aggregation
    ``filter(size(shset) > 0)`` is pushed through the shingle
    projections and substitutes the FULL shingle expression into the
    predicate — and since HOF lambdas get no common-subexpression
    elimination, the per-token md5 transform then re-runs once per
    shingle index (measured ~90x the stage CPU at sf0.1 when the
    persist that used to act as the pushdown barrier was removed).
    Filtering the cached frame costs one comparison per distinct row.
    Empty-set docs form their own group (gk = md5 of the empty-array
    rendering) and are dropped from the returned groups, so they
    contribute no pairs."""
    gk = F.md5(F.sort_array(F.col("shset")).cast("string")).alias("__gk")
    groups = _collapse_exact(sets, id_col, gk, ("shset",)).filter(
        F.size("shset") > 0
    )
    reps = groups.select(F.col("__rep").alias(id_col), F.col("shset"))
    rep_pairs = _lsh_pairs_from_sets(
        reps, id_col, num_hashes, bands, verify_threshold
    )
    return groups, rep_pairs


def near_dup_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
    max_iter: int = 25,
) -> DataFrame:
    """(id, rep): connected components of the MinHash-LSH verified
    near-dup graph — the clustering step of :func:`dedup_near` /
    :func:`dedup_near_best` as a first-class op.

    Duplication-linear: the iterative component search runs on the
    REPRESENTATIVE graph (one node per distinct shingle set, edges =
    verified rep pairs) and labels are then broadcast to members through
    the membership map. Exact, because every member is connected to its
    representative by a jaccard-1.0 pair in the full graph (identical
    sets), so full-graph components are unions of whole groups, and the
    min doc id of a component equals the min over its groups' min-ids —
    i.e. the min over rep labels. Docs with empty shingle sets have no
    edges and keep themselves. (With ``verify_threshold > 1.0`` the
    within-group edges vanish and the equivalence breaks, so that regime
    falls back to components over the expanded pair list.)"""
    if verify_threshold > 1.0:
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, n, num_hashes, bands, verify_threshold
        )
        return connected_components(pairs, df.select(id_col), id_col, max_iter)
    # not persisted: single consumer on the collapsed path (see
    # minhash_lsh_pairs)
    sets = shingle_hash_sets(df, text_col, id_col, n)
    groups, rep_pairs = _minhash_collapse_graph(
        sets, id_col, num_hashes, bands, verify_threshold
    )
    # groups holds one row per distinct set with __rep and the full
    # member-id array, so the rep node list needs no explode+distinct
    # (one exchange fewer) and the label broadcast joins comp_rep onto
    # GROUP rows (one per distinct set) before exploding to members,
    # instead of joining the per-doc membership map (guide §2.3 — join
    # the narrow side, explode after).
    rep_nodes = groups.select(F.col("__rep").alias(id_col))
    comp_rep = connected_components(
        rep_pairs.select("id_a", "id_b"), rep_nodes, id_col, max_iter
    )
    labels = groups.join(
        comp_rep.withColumnRenamed(id_col, "__rep"), "__rep"
    ).select(F.explode("__ids").alias(id_col), F.col("rep"))
    return (
        df.select(id_col)
        .join(labels, id_col, "left")
        .select(F.col(id_col), F.coalesce("rep", F.col(id_col)).alias("rep"))
    )


def _expand_collapsed_pairs(
    rep_pairs: DataFrame, groups: DataFrame, value_col: str, within: Column
) -> DataFrame:
    """Reconstruct the full (id_a, id_b, <value_col>) list from
    representative pairs plus the :func:`_collapse_exact` groups frame.

    Cross-group pairs inherit the representatives' value: every member of
    rep_a's group pairs with every member of rep_b's, through the one
    membership map ``explode(__ids)``. Within-group pairs are identical
    inputs; they carry ``within``, a per-group value evaluated on the
    group row (jaccard 1.0, hamming 0, the computed FP self-cosine) that
    is NULL when the operator's threshold rejects that self-similarity.
    It is evaluated only on groups with at least two members — the
    uncollapsed path never pairs a singleton, so evaluating it there
    could add failure modes (ANSI divide-by-zero on a lone zero vector).
    Within pairs expand in-task from the member array
    (:func:`_pair_blocks`), so a d-member group costs no join rows and
    its pair arrays stay bounded however large d is."""
    members = groups.select(F.explode("__ids").alias("__d"), F.col("__rep"))
    ma = members.select(F.col("__rep").alias("id_a"), F.col("__d").alias("__da"))
    mb = members.select(F.col("__rep").alias("id_b"), F.col("__d").alias("__db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__da", "__db").alias("id_a"),
            F.greatest("__da", "__db").alias("id_b"),
            value_col,
        )
    )
    multi = (
        groups.filter(F.size("__ids") >= 2)
        .select("__ids", within.alias(value_col))
        .filter(F.col(value_col).isNotNull())
    )
    within_pairs = _pair_blocks(multi, value_col).select(
        F.inline("__p"), value_col
    )
    return cross.unionByName(within_pairs)


def _band_buckets(
    sets: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id_col, band, bucket)`` LSH band buckets over a ``(id_col,
    shset)`` frame. Shared by the self-join pair path and the
    cross-corpus anti path — identical permutation constants make
    buckets comparable across independently-built frames.

    Signatures on the EXPLODED form, not array_min(transform(...)):
    higher-order-function lambdas run interpreted, while explode +
    hash-aggregate min is whole-stage-codegen'd with map-side partials
    (the explode never moves rows, so the groupBy shuffles only tiny
    per-doc partial aggregates). expr strings, not Column arithmetic: K
    permutations x ~6 ops each is hundreds of py4j round trips (~0.3s of
    driver latency per build); one parsed string per aggregate is sub-ms
    and yields the same tree. One posexplode pass instead of a bands-way
    union: a union of N selects over `sig` re-executes the signature
    subtree N times; exploding an array of band hashes evaluates it once
    per doc. Each band bucket is the modular polynomial fold of its R
    signature components — pure long arithmetic (no md5-of-concat
    strings), identical in the oracle."""
    rows_per_band = num_hashes // bands
    sh = sets.select(F.col(id_col), F.explode(F.col("shset")).alias("shingle"))
    mins = [
        F.expr(f"min(({a} * (shingle % {PERM_P}) + {b}) % {PERM_P}) AS h{i}")
        for i, (a, b) in enumerate(minhash_perm_constants(num_hashes))
    ]
    sig = sh.groupBy(id_col).agg(*mins)

    def _band_bucket(b: int) -> Column:
        acc = f"(h{b * rows_per_band} % {POLY_MOD})"
        for i in range(b * rows_per_band + 1, (b + 1) * rows_per_band):
            acc = f"(({acc} * 131 + h{i}) % {POLY_MOD})"
        return F.expr(acc)

    band_arr = F.array(*[_band_bucket(b) for b in range(bands)])
    return sig.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "bucket")
    )


# Largest id block of the pair expander: no generated pair array holds
# more than _PAIR_BLOCK**2 pairs (~2 MB), however large the group or
# bucket: a single array of all d(d-1)/2 pairs would be one row that
# cannot spill, and past d ~ 65.5k ids Spark refuses to build it
# (COLLECTION_SIZE_LIMIT_EXCEEDED).
_PAIR_BLOCK = 256


def _pair_blocks(frame: DataFrame, *keep: str) -> DataFrame:
    """``(*keep, __p)`` rows whose ``__p`` arrays of (id_a < id_b) structs
    together hold every pair of each row's ``__ids`` exactly once — the
    in-task pair expansion shared by :func:`_bucket_pairs` and the
    within-group leg of :func:`_expand_collapsed_pairs`.

    The sorted id array splits into blocks of ``_PAIR_BLOCK`` ids, and
    one row per block pair (i <= j) carries that pair's array: the upper
    triangle of block i when i == j, the full block-i x block-j cross
    otherwise (sorted distinct ids make every block-i id smaller than
    every block-j id). The index explodes are O(d / _PAIR_BLOCK)
    elements and the pair arrays O(_PAIR_BLOCK**2), so task memory is
    bounded per row while the output volume stays d(d-1)/2."""
    b = _PAIR_BLOCK
    ids = F.col("__ids")
    last = ((F.size(ids) - 1) / b).cast("int")
    rows = (
        frame.select(*keep, F.sort_array("__ids").alias("__ids"))
        .select(*keep, "__ids", F.explode(F.sequence(F.lit(0), last)).alias("__i"))
        .select(*keep, "__ids", "__i", F.explode(F.sequence("__i", last)).alias("__j"))
    )
    i, j = F.col("__i"), F.col("__j")

    def partners(p: Column) -> Column:
        # block j from (0-based) position max(j*b, i*b + p + 1): the ids
        # after x when i == j, all of block j when i < j
        lo = F.greatest(j * b, i * b + p + 1)
        return F.slice(ids, lo + 1, (j + 1) * b - lo)

    pairs = F.flatten(
        F.transform(
            F.slice(ids, i * b + 1, b),
            lambda x, p: F.transform(
                partners(p), lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))
            ),
        )
    )
    return rows.select(*keep, pairs.alias("__p"))


def _bucket_pairs(buckets: DataFrame, id_col: str, keys: list[str]) -> DataFrame:
    """Distinct ordered candidate pairs from a ``(*keys, id_col)`` bucket
    stream: group the ids per bucket and emit every in-bucket (id_a <
    id_b) pair through :func:`_pair_blocks`. ``id_col`` may be a struct
    led by the id, to carry a small payload into the pairs (hamming's
    signature); members then order by that leading id.

    Versus the bucket SELF-join formulation (``a.join(b, keys)`` + ``id_a
    < id_b``) this evaluates the bucket-building subtree ONCE instead of
    once per join side (the signature explode+aggregate is the expensive
    part of LSH candidate generation) and replaces the join's two
    exchange-consumer chains with one groupBy exchange (guide §2.4 —
    fewer shuffles; §2.3 — the grouped rows carry only ids). The pair
    volume is identical — a d-member bucket yields d(d-1)/2 candidates
    either way — but here they are generated inside the bucket's task,
    in arrays bounded by the pair block, so a degenerate bucket costs
    time, never an unspillable row. Cross-bucket duplicate pairs are
    removed by the same final ``distinct``."""
    grouped = (
        buckets.groupBy(*keys)
        .agg(F.collect_set(F.col(id_col)).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    return _pair_blocks(grouped).select(F.inline("__p")).distinct()


def _lsh_pairs_from_sets(
    sets: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    verify_threshold: float,
) -> DataFrame:
    """The LSH core over a ``(id_col, shset)`` frame — see
    :func:`minhash_lsh_pairs` and :func:`_band_buckets` for the design
    notes."""
    buckets = _band_buckets(sets, id_col, num_hashes, bands)
    cand = _bucket_pairs(buckets, id_col, ["band", "bucket"])

    # exact verify: |A∩B| / (|A|+|B|-|A∩B|) via array_intersect on the
    # candidate pair rows (candidates are rare; AQE broadcasts them)
    shset = F.col("shset")
    pairs = cand.join(
        sets.select(F.col(id_col).alias("id_a"), shset.alias("__sa")), "id_a"
    ).join(sets.select(F.col(id_col).alias("id_b"), shset.alias("__sb")), "id_b")
    n_inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    return (
        pairs.withColumn(
            "jaccard",
            n_inter / (F.size(F.col("__sa")) + F.size(F.col("__sb")) - n_inter),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document: per-token hash, bit-majority vote
    weighted by token frequency. Exploding tokens + conditional-sum per bit
    keeps everything in codegen'd aggregates (one shuffle on doc id).

    Token hashes are 56-bit md5-prefix ints (bits 0-55) extended by a
    second salted md5 (bits 56-63) — the same engine-portable construction
    as ``_minhash_h1_h2``, so a SQL oracle replays signatures exactly."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    )
    h = toks.withColumn(
        "th1", F.conv(F.substring(F.md5(F.col("tok")), 1, 14), 16, 10).cast("long")
    ).withColumn(
        "th2",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("S:"), F.col("tok"))), 1, 14), 16, 10
        ).cast("long"),
    )

    # expr strings (64 votes x ~6 Column ops each would be ~400 py4j round
    # trips of driver latency per build; see minhash_lsh_pairs)
    def _bit(i: int) -> str:
        src, sh = ("th1", i) if i < 56 else ("th2", i - 56)
        return f"(shiftright({src}, {sh}) & 1)"

    votes = [
        F.expr(f"sum(CASE WHEN {_bit(i)} = 1 THEN 1 ELSE -1 END) AS b{i}")
        for i in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    terms = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return agg.select(F.col(id_col), F.expr(terms).alias("simhash"))


def simhash_near_pairs(
    sig: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, prefix_bands: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    ``prefix_bands`` 16-bit chunks (pigeonhole: hamming<=3 pairs share at
    least one exact chunk when bands=4), join on chunk equality, verify
    Hamming distance with bit_count(xor)."""
    return hamming_near_pairs(
        sig,
        id_col=id_col,
        hash_col="simhash",
        max_hamming=max_hamming,
        prefix_bands=prefix_bands,
    )


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    prefix_bands: int = 4,
    collapse_exact: bool = True,
) -> DataFrame:
    """Banded Hamming-distance pairs over ANY 64-bit signature column
    (SimHash, perceptual image hash, audio fingerprint): band into
    ``prefix_bands`` equal chunks, pair the ids sharing a (band, chunk)
    bucket (:func:`_bucket_pairs`), verify exact distance with
    bit_count(xor). Exact — not approximate — while ``max_hamming <
    prefix_bands`` (pigeonhole: a qualifying pair must agree on at least
    one whole chunk), with candidate generation bucketed, never
    all-pairs. Null signatures match nothing.

    ``collapse_exact`` (default on): d identical signatures put d^2
    candidates in every one of their chunk buckets; as in the other pair
    operators, the banding runs on one representative per distinct
    signature (the hash value itself is the group key — a plain long)
    and pairs are reconstructed afterward, within-group at hamming
    exactly 0."""
    # pigeonhole guarantee (every qualifying pair shares a chunk) only
    # holds for max_hamming < prefix_bands; auto-widen the banding so the
    # exact-recall contract always holds instead of silently degrading.
    # Valid band counts are the power-of-two divisors of 64.
    if max_hamming > 63:
        raise ValueError("max_hamming must be <= 63 for 64-bit signatures")
    if max_hamming >= prefix_bands:
        widened = next(b for b in (2, 4, 8, 16, 32, 64) if b > max_hamming)
        import warnings

        warnings.warn(
            f"hamming_near_pairs: prefix_bands={prefix_bands} <= "
            f"max_hamming={max_hamming} cannot guarantee full recall; "
            f"auto-widened to prefix_bands={widened}",
            stacklevel=2,
        )
        prefix_bands = widened
    if 64 % prefix_bands:
        raise ValueError("prefix_bands must divide 64")
    # null signatures can never share a chunk with anything
    sig = sig.filter(F.col(hash_col).isNotNull())
    if collapse_exact:
        groups = _collapse_exact(sig, id_col, hash_col)
        reps = groups.select(F.col("__rep").alias(id_col), F.col(hash_col))
        rep_pairs = hamming_near_pairs(
            reps, id_col, hash_col, max_hamming, prefix_bands,
            collapse_exact=False,
        )
        return _expand_collapsed_pairs(
            rep_pairs, groups, "hamming", F.when(F.lit(max_hamming) >= 0, 0)
        )
    chunk_bits = 64 // prefix_bands
    # posexplode (see minhash_lsh_pairs): one pass over sig, not a
    # prefix_bands-way union re-executing the signature subtree.
    chunk_arr = F.array(
        *[
            F.shiftrightunsigned(F.col(hash_col), c * chunk_bits).bitwiseAND(
                F.lit((1 << chunk_bits) - 1)
            )
            for c in range(prefix_bands)
        ]
    )
    # a bucket member is (id, signature): structs sort by id first, so the
    # pairs stay id-ordered and verify needs no signature re-attach join
    member = F.struct(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
    banded = sig.select(
        member.alias("__m"), F.posexplode(chunk_arr).alias("band", "chunk")
    )
    hamming = F.bit_count(F.col("id_a.h").bitwiseXOR(F.col("id_b.h")))
    return (
        _bucket_pairs(banded, "__m", ["band", "chunk"])
        .select(
            F.col("id_a.id").alias("id_a"),
            F.col("id_b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# near-dup clustering (connected components) and keep-one dedup
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(id, rep): each node labeled with the minimum id reachable through
    the (undirected) ``pairs`` edges — singletons keep themselves.

    Min-label propagation WITH pointer doubling: every round each node
    takes the min of its own label and its neighbors' labels (one join +
    one map-side-combinable min aggregate), then shortcuts through its
    representative (``rep <- label(rep)``, one self-join on the label
    table). The shortcut gives the same O(log diameter) round bound the
    large-star/small-star alternation achieves (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") while keeping the
    per-round plan a fixed three-shuffle shape with NO per-node
    neighborhood materialization — a 100-node duplicate chain converges
    in ~8 rounds instead of 100 (pinned by test_props). Labels only
    decrease and never leave the component (the label table maps every
    node to a node id in its own component), so the fixpoint is the
    exact component minimum. Results are persisted per round so lineage
    stays flat; the loop is bounded and data-independent per round.

    Fault-tolerance trade: each round's label table is pinned with
    ``localCheckpoint`` (truncates lineage — required, the self-join
    references the round's plan twice and the doubled plan blows
    Catalyst's stack by round ~10). localCheckpoint blocks are NOT
    recoverable after executor loss, so on a long cluster run a lost
    executor mid-loop fails the job instead of recomputing from lineage;
    rerun the job (rounds are cheap and the loop is deterministic), or
    swap in ``df.checkpoint()`` with a reliable checkpoint dir for
    multi-hour runs where a restart is more expensive than the HDFS
    writes."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )  # unpersisted below once the fixpoint loop ends
    labels = nodes.select(F.col(id_col).alias("src"), F.col(id_col).alias("rep"))
    for it in range(max_iter):
        if stats is not None:
            stats["rounds"] = it + 1  # convergence budget, pinned by tests
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("rep").alias("nmin"))
        )
        prop = labels.join(neighbor_min, "src", "left").select(
            "src",
            F.least(F.col("rep"), F.coalesce(F.col("nmin"), F.col("rep"))).alias(
                "rep"
            ),
        )
        # pointer doubling: rep <- label(rep). Every rep IS a node id, so
        # the self-join always matches; coalesce guards regardless. This
        # is what collapses long chains logarithmically — propagation
        # alone moves the min one hop per round. localCheckpoint (not
        # persist) because the self-join references the round's plan
        # TWICE: without truncating lineage the logical plan doubles
        # every round and Catalyst blows the stack by round ~10.
        new_labels = (
            prop.alias("l")
            .join(
                prop.select(
                    F.col("src").alias("rep"), F.col("rep").alias("rep2")
                ).alias("r"),
                "rep",
                "left",
            )
            .select("src", F.coalesce(F.col("rep2"), F.col("rep")).alias("rep"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("rep", "old"), "src")
            .filter(F.col("rep") != F.col("old"))
            .isEmpty()
        )
        # localCheckpoint blocks are not CacheManager entries, so there
        # is no synchronous unpersist for them; reassigning `labels`
        # drops the only reference (CPython refcounts immediately) and
        # Spark's ContextCleaner reclaims the round's blocks off-thread.
        # Bounded exposure: O(log diameter) rounds x a 2-long-per-node
        # label table in flight at once.
        labels = new_labels
        if changed:
            break
    else:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint within max_iter={max_iter} "
            "rounds — labels are min-id within that many hops with doubling; "
            "components with diameter beyond ~2^max_iter keep multiple "
            "representatives",
            stacklevel=2,
        )
    edges.unpersist()
    return labels.select(F.col("src").alias(id_col), "rep")


def dedup_near(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Keep-one near-duplicate dedup: MinHash-LSH candidate pairs ->
    exact-Jaccard verify -> connected components -> keep each component's
    min-id document. Output: the surviving rows of ``df``. Clustering is
    duplication-linear via :func:`near_dup_components`."""
    comp = near_dup_components(
        df, text_col, id_col, n, num_hashes, bands, verify_threshold
    )
    keep = comp.filter(F.col(id_col) == F.col("rep")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def dedup_near_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Keep-BEST near-duplicate dedup: same candidate/verify/cluster
    pipeline as :func:`dedup_near`, but each duplicate cluster keeps its
    highest-``score_col`` document (ties to the lower id — deterministic)
    instead of the lowest id. This is what production corpus dedup does:
    among near-identical crawls keep the cleanest/longest one, not the
    first-seen one. One extra hash aggregate (max_by per component) on
    the components frame — nothing data-sized beyond dedup_near."""
    comp = near_dup_components(
        df, text_col, id_col, n, num_hashes, bands, verify_threshold
    )
    scored = comp.join(df.select(id_col, score_col), id_col)
    winners = scored.groupBy("rep").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col(score_col), -F.col(id_col))
        ).alias("__keep")
    )
    keep = winners.select(F.col("__keep").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def dedup_against_near(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    ref_id_col: str | None = None,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus NEAR-dup dedup: drop rows of ``df`` whose text is a
    verified near-duplicate (exact Jaccard >= ``verify_threshold`` over
    hashed shingle sets) of ANY ``reference`` document — the incremental
    ingest shape: dedup each fresh crawl batch against the corpus
    already kept, without ever re-running the self-join over the full
    corpus. :func:`dedup_against` is the exact-match fast pass that runs
    first; this is the fuzzy second pass.

    Scale design: both sides build band buckets independently with the
    SAME permutation constants (:func:`_band_buckets`), so the candidate
    step is a fresh-x-reference join on short (band, bucket) keys — the
    reference side can be precomputed/persisted by the caller, and
    nothing is quadratic in either corpus. Verification joins the two
    shingle-set frames only on candidate rows (rare; AQE broadcasts
    them). A fresh doc with an empty shingle set has no buckets and
    always survives (Jaccard is undefined on empty sets) — run the
    exact pass first to drop verbatim copies of degenerate texts.

    Output: the surviving rows of ``df``, all columns intact.
    """
    rid = ref_id_col or id_col
    sets_new = _track(shingle_hash_sets(df, text_col, id_col, n))
    sets_ref = _track(
        shingle_hash_sets(reference, ref_text_col or text_col, rid, n)
    )
    bk_new = _band_buckets(sets_new, id_col, num_hashes, bands)
    bk_ref = _band_buckets(sets_ref, rid, num_hashes, bands)
    matched = near_match_ids(
        sets_new, bk_new, sets_ref, bk_ref,
        id_col=id_col, ref_id_col=rid, verify_threshold=verify_threshold,
    )
    return df.join(matched, id_col, "left_anti")


def near_match_ids(
    sets_new: DataFrame,
    buckets_new: DataFrame,
    sets_ref: DataFrame,
    buckets_ref: DataFrame,
    id_col: str = "doc_id",
    ref_id_col: str | None = None,
    verify_threshold: float = 0.5,
    broadcast_new: bool = False,
) -> DataFrame:
    """Ids of ``sets_new`` docs with at least one VERIFIED near-match in
    the reference side — the candidate+verify core of
    :func:`dedup_against_near`, factored out so callers can supply
    PRECOMPUTED reference state. ``sets_*`` are ``(id, shset)`` frames
    (:func:`shingle_hash_sets`); ``buckets_*`` are ``(id, band, bucket)``
    frames (:func:`_band_buckets`) — both sides must share the same
    permutation family/params or buckets are not comparable.

    This is what makes incremental ingest O(batch), not O(corpus): the
    streaming pipeline (``streaming/dedup_stream.py``) persists each
    committed batch's shingle sets and band buckets next to the kept
    docs, so deduping batch N re-shingles only the ~batch-sized fresh
    side and joins it against the resting state — the corpus text is
    never re-read, matching the segment discipline of the reference's
    incremental loop (data_update.py:191-292).

    ``broadcast_new=True`` pins the NEW side's buckets as the broadcast
    build of the candidate join — for callers whose new side is bounded
    (a streaming micro-batch) probing a corpus-sized reference: the
    reference state is then SCANNED, never shuffled, making per-trigger
    shuffle O(batch). Leave False when the new side is unbounded and let
    AQE pick.

    Output: one column, ``id_col``, distinct."""
    rid = ref_id_col or id_col
    bk_new = buckets_new.select(
        F.col(id_col).alias("__id_new"), "band", "bucket"
    )
    if broadcast_new:
        bk_new = F.broadcast(bk_new)
    bk_ref = buckets_ref.select(
        F.col(rid).alias("__id_ref"), "band", "bucket"
    )
    cand = (
        bk_new.join(bk_ref, ["band", "bucket"])
        .select("__id_new", "__id_ref")
        .distinct()
    )
    if broadcast_new:
        # the candidate set is bounded by the new side's bucket fan-out;
        # pin it (and cand⋈sets_new below) as the broadcast build of the
        # verify joins too, so the corpus-sized shingle-set state is
        # scanned — not shuffled on __id_ref — independent of whether
        # AQE's runtime size estimate clears its broadcast threshold
        cand = F.broadcast(cand)
    cand_sets = cand.join(
        sets_new.select(
            F.col(id_col).alias("__id_new"), F.col("shset").alias("__sa")
        ),
        "__id_new",
    )
    if broadcast_new:
        cand_sets = F.broadcast(cand_sets)
    return (
        cand_sets.join(
            sets_ref.select(
                F.col(rid).alias("__id_ref"), F.col("shset").alias("__sb")
            ),
            "__id_ref",
        )
        .withColumn(
            "__inter", F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
        )
        .filter(
            F.col("__inter")
            / (F.size(F.col("__sa")) + F.size(F.col("__sb")) - F.col("__inter"))
            >= verify_threshold
        )
        .select(F.col("__id_new").alias(id_col))
        .distinct()
    )


# ---------------------------------------------------------------------------
# cross-document substring dedup (duplicated-span removal)
# ---------------------------------------------------------------------------


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Remove duplicated token spans from every document — the substring-
    level dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), reformulated from their suffix array into
    hashed rolling k-token windows so it runs as pure shuffle-friendly
    DataFrame ops. The reference repo has no counterpart; this is an
    LLM-pipeline operator over the ``documents`` table.

    Semantics: tokenize on whitespace; a k-token window is *duplicated*
    when its exact token sequence occurs >= ``min_count`` times across the
    corpus (within- and cross-document alike). Every token covered by any
    duplicated window is removed; survivors are rejoined with single
    spaces (whitespace-normalized output, documented contract). Because a
    duplicated substring of L >= k tokens contains L-k+1 duplicated
    windows that cover it entirely, this removes exactly the spans the
    suffix-array method finds at threshold k — at window granularity
    rather than character granularity.

    Scale shape (the reason for this formulation): windows are one
    posexplode + md5 projection (no Python); the duplicate set is a hash
    aggregate with map-side combine on 32-hex keys; cover indexes are a
    bounded k-fold explode of *duplicated* windows only, deduped by one
    (id, idx) distinct; reassembly is a single hash aggregate per doc.
    Nothing is O(corpus^2) and no window function touches the full
    corpus. Determinism: md5 + integer positions only, so the DuckDB
    oracle replays it exactly.

    Output: ``id_col``, ``text_clean``, ``n_tokens`` (original token
    count), ``n_removed``.
    """
    toks = _track(
        df.select(
            F.col(id_col),
            F.filter(
                # null text ≡ empty doc (0 tokens, nothing to remove) —
                # without the coalesce, size(null)=-1 poisons n_tokens
                F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
                lambda t: t != "",
            ).alias("tokens"),
        )
    )
    # window hashes; transform index == window start, so posexplode's pos
    # IS the start offset
    idxs = F.when(
        F.size("tokens") >= k, F.sequence(F.lit(0), F.size("tokens") - k)
    ).otherwise(F.expr("array()").cast("array<int>"))
    wins = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                idxs,
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("tokens"), i + 1, F.lit(k)))),
            )
        ).alias("pos", "h"),
    )
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("h")
    )
    cov = (
        wins.join(dup, "h")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("idx"),
        )
        .distinct()
    )
    tok = toks.select(
        F.col(id_col), F.posexplode("tokens").alias("idx", "token")
    )
    kept = tok.join(cov, [id_col, "idx"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        toks.select(F.col(id_col), F.size("tokens").cast("long").alias("n_tokens"))
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            F.col("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
