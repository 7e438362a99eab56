"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the part that matters at 10^12 docs):

* **exact** — one shuffle on the md5 fingerprint; map-side partial counts.
* **n-gram Jaccard** — inverted-index self-join on shingles. Exact but
  quadratic in the worst case; at scale it is the *verifier*, not the
  candidate generator.
* **MinHash+LSH** — the scale path: k=16 min-hashes from the affine
  Carter-Wegman family g_i = (h1 + i*h2) mod (2^31-1) with h1/h2 two
  32-bit slices of one md5 per shingle; banded b=4×r=4; candidates =
  equi-join on band keys (shuffle on uniform band keys, skew-safe), then
  exact Jaccard verification of candidates only.
* **SimHash** — 16-bit signature via per-token md5 bit-majority; hamming
  neighbours found by 4-nibble band join (any pair at distance<=3 shares
  at least one exact nibble — pigeonhole).

Portability: md5 + integer arithmetic only — every operator here has an
exact DuckDB oracle (see queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

MINHASH_K = 16
LSH_BANDS = 4  # 4 rows per band


def tokens_col(text: str | Column = "text") -> Column:
    return F.split(text, " ")


def shingles_col(text: str | Column = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (JVM-side).

    NB ``sequence(1, 0)`` in Spark yields a *descending* [1, 0], so short
    documents must be guarded, not clamped."""
    toks = tokens_col(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def fingerprint_col(text: str | Column = "text") -> Column:
    return F.md5(text)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: fingerprint -> group size + canonical id."""
    return (
        df.select(F.col(id_col), fingerprint_col(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def _shingled(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, distinct shingles) table, persisted MEMORY_AND_DISK. The
    LSH/Jaccard pipelines read it three times (index/signatures, then both
    sides of the verification join); computing the 3-gram concat per read
    tripled wall time (40s -> 16.6s at sf0.1 when cached).

    Nothing releases the persist: Spark's CacheManager holds the cached
    plan until ``unpersist()``/``spark.catalog.clearCache()``, however
    unreferenced the DataFrame becomes on the driver, so every call leaves
    one more persisted shingle table for the life of the session.
    """
    from pyspark.storagelevel import StorageLevel
    return df.select(
        F.col(id_col).alias("id"), shingles_col(text_col).alias("sh")
    ).filter(F.size("sh") > 0).persist(StorageLevel.MEMORY_AND_DISK)


def ngram_jaccard_pairs(df: DataFrame, threshold: float,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        max_df: int | None = 100) -> DataFrame:
    """Jaccard pairs via inverted-index self-join on shingles, with a
    hot-shingle document-frequency cap.

    The cap is the 100 TB guard: a shingle occurring in n documents
    contributes n² rows to the self-join, so one stop-phrase shared by 10⁶
    docs makes the shuffle quadratic. Shingles with df > ``max_df`` are
    excluded from the *candidate-generating* index only (they are the least
    selective evidence); every candidate pair is then verified EXACTLY
    against the full shingle sets, so reported inter/na/nb/jaccard values
    are never approximated. A qualifying pair is missed only when every
    shingle it shares is hot — at threshold t that requires ≥ t·m shared
    df>max_df shingles — so set ``max_df`` above the df of the most common
    legitimate phrase. ``max_df=None`` disables the cap (exact, but
    worst-case quadratic — verifier use only).

    Plan shape: shingle-df groupBy (map-side combined) -> broadcast
    anti-join of the tiny hot set -> index self-join whose groupBy IS
    the verification: every shared cold shingle contributes exactly one
    join row (the arrays are distinct), so ``count(*)`` per pair is the
    exact cold intersection, map-side-combined before the pair shuffle,
    and the full-set sizes ride the index as one int per row. Pairs
    also sharing HOT shingles get the exact correction from a join
    against the per-doc hot-shingle sets (tiny arrays: only shingles
    with df > max_df). Nothing ever re-shuffles the shingle ARRAYS to
    the candidate pairs — the former verify joins moved ~1 KB of array
    per candidate and re-intersected them per pair (guide §2.3/§8:
    decide with small rows); reported inter/na/nb/jaccard are
    bit-identical.
    """
    s = _shingled(df, id_col, text_col)
    inv = s.select("id", F.size("sh").alias("n"),
                   F.explode("sh").alias("shingle"))
    if max_df is not None:
        hot = (
            inv.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df).select("shingle")
        )
        cold = inv.join(F.broadcast(hot), "shingle", "left_anti")
    else:
        cold = inv
    a, b = cold.alias("a"), cold.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count(F.lit(1)).cast("int").alias("inter_cold"),
             F.first(F.col("a.n")).alias("na"),
             F.first(F.col("b.n")).alias("nb"))
    )
    if max_df is not None:
        # per-doc hot-shingle sets: one small array per doc that has
        # any (df > max_df keeps them rare by construction), so the
        # exact hot correction is a size(array_intersect) over tiny
        # arrays — never a hot-side self-join (that quadratic blowup is
        # what the cap exists to avoid)
        hot_sets = (
            inv.join(F.broadcast(hot), "shingle", "left_semi")
            .groupBy("id").agg(F.collect_list("shingle").alias("hsh"))
        )
        ha = hot_sets.select(F.col("id").alias("a_id"),
                             F.col("hsh").alias("hsh_a"))
        hb = hot_sets.select(F.col("id").alias("b_id"),
                             F.col("hsh").alias("hsh_b"))
        cand = (
            cand.join(ha, "a_id", "left").join(hb, "b_id", "left")
            .withColumn(
                "inter",
                F.col("inter_cold")
                + F.when(
                    F.col("hsh_a").isNotNull()
                    & F.col("hsh_b").isNotNull(),
                    F.size(F.array_intersect("hsh_a", "hsh_b")))
                .otherwise(F.lit(0)))
        )
    else:
        cand = cand.withColumn("inter", F.col("inter_cold"))
    pairs = (
        cand.withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs.select("a_id", "b_id", "inter", "na", "nb", "jaccard")


_MERSENNE = 2147483647  # 2^31 - 1


def minhash_hash_pairs_col(sh: Column) -> Column:
    """Per-shingle (h1, h2) 32-bit hash pairs from ONE md5 per shingle.

    Materialize this as a real column before deriving the k signatures —
    Catalyst does not common-subexpression-eliminate inside higher-order
    lambdas, so inlining it would recompute the md5 per seed.
    """
    hx = F.transform(sh, lambda s: F.md5(s))
    return F.transform(
        hx,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("a"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("b"),
        ),
    )


def minhash_sig_cols(pairs: Column, k: int = MINHASH_K) -> list[Column]:
    """k min-hash values from the affine family g_i = (h1 + i*h2) mod p
    (Carter-Wegman 2-universal family). Integer-only: engine-portable."""
    return [
        F.array_min(
            F.transform(pairs, lambda p: F.pmod(p.a + seed * p.b, F.lit(_MERSENNE)))
        ).alias(f"mh{seed}")
        for seed in range(k)
    ]


def minhash_lsh_pairs(df: DataFrame, threshold: float,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = MINHASH_K, bands: int = LSH_BANDS) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification."""
    r = k // bands
    s = _shingled(df, id_col, text_col)
    sig = s.withColumn("hp", minhash_hash_pairs_col(F.col("sh")))
    sig = sig.select("id", "sh", *minhash_sig_cols(F.col("hp"), k))
    band_keys = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)]))
        .alias(f"band{b}")
        for b in range(bands)
    ]
    # Band join carries only (id, band) — never the shingle arrays: at
    # corpus scale the arrays are the payload and would 4x the shuffle.
    # Candidate pairs join back to the shingle table for verification.
    sig = sig.select("id", *band_keys)
    bands_long = sig.select(
        "id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)]))
        .alias("band_idx", "band_key"),
    )
    a, b_ = bands_long.alias("a"), bands_long.alias("b")
    cand = (
        a.join(b_, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    sh_a = s.select(F.col("id").alias("a_id"), F.col("sh").alias("sha"))
    sh_b = s.select(F.col("id").alias("b_id"), F.col("sh").alias("shb"))
    verified = (
        cand.join(sh_a, "a_id").join(sh_b, "b_id")
        .select(
            "a_id", "b_id",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            F.size("sha").alias("na"), F.size("shb").alias("nb"),
        )
    ).withColumn(
        "jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    ).filter(F.col("jaccard") >= threshold)
    return verified.select("a_id", "b_id", "inter", "na", "nb", "jaccard")


def connected_components(ids: DataFrame, pairs: DataFrame,
                         id_col: str = "id",
                         max_iter: int = 25) -> DataFrame:
    """Near-duplicate CLUSTERS from pairwise matches: undirected connected
    components by iterative min-label propagation.

    ``ids`` is the full id universe (unmatched docs become singleton
    components); ``pairs (a_id, b_id)`` the edges. Each iteration every
    node takes min(own label, neighbours' labels) — one symmetric-edge
    join + groupBy per round, converging in graph-diameter rounds (near-dup
    graphs are shallow: dup clusters are quasi-cliques). Convergence is
    driver-checked (count of changed labels), labels persisted per round
    so lineage does not snowball. Returns (id, component) with component =
    the minimum id in the component — the canonical "keep" doc.
    """
    sym = pairs.select(F.col("a_id").alias("src"),
                       F.col("b_id").alias("dst")).union(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    ).persist()
    cached = ids.select(F.col(id_col).alias("id"),
                        F.col(id_col).alias("comp")).persist()
    labels = cached
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("nbr_min"))
        )
        new_cached = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr_min", "comp"))
                .alias("comp"),
                F.col("comp").alias("prev"),
            )
        ).persist()
        changed = new_cached.filter(F.col("comp") != F.col("prev")).count()
        cached.unpersist(blocking=False)
        cached = new_cached
        labels = new_cached.select("id", "comp")
        if changed == 0:
            break
    else:
        # Returning unconverged labels would be silently-wrong clusters;
        # a component with diameter > max_iter must fail loudly.
        sym.unpersist(blocking=False)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — raise max_iter (component diameter exceeds it)")
    sym.unpersist(blocking=False)
    return labels


def lsh_hyperplanes(dim: int, bits: int) -> list[list[int]]:
    """Deterministic integer random hyperplanes: component (k, d) is
    md5("{k}_{d}") folded into [-1000, 1000]. md5 is identical in Python,
    Spark and DuckDB, so both engines can reproduce the exact planes —
    signatures stay engine-exact with no RNG state to ship."""
    import hashlib
    return [
        [int(hashlib.md5(f"{k}_{d}".encode()).hexdigest()[:8], 16) % 2001
         - 1000 for d in range(dim)]
        for k in range(bits)
    ]


def embedding_lsh_pairs(df: DataFrame, threshold: float,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        bits: int = 16, bands: int = 4,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicates at scale: random-hyperplane LSH.

    Sign-of-dot-product signatures (Charikar SimHash over real vectors),
    banded like minhash_lsh_pairs: candidates = equi-join on (band_idx,
    band_key) — id-only shuffle, vectors rejoined only for the exact
    cosine verification. A pair is reported iff it shares a band AND its
    exact cosine >= threshold, so reported scores are never approximate;
    recall follows the (1 - theta/pi)^r band bound.

    ``dim`` is required: the hyperplanes are a function of the embedding
    dimension, and inferring it would mean running a hidden Spark job
    (``first()``) inside a lazy operator.
    """
    from .similarity import dot_col, norm_col, score_milli_pre_col

    if dim is None:
        raise ValueError(
            "embedding_lsh_pairs requires an explicit dim= (the embedding "
            "dimension); inferring it would run a driver-side job inside a "
            "lazy operator")
    r = bits // bands
    planes = lsh_hyperplanes(dim, bits)
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bit_cols = []
    for k, plane in enumerate(planes):
        harr = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with("v", harr,
                       lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        bit_cols.append(F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))
                        .alias(f"b{k}"))
    sig = v.select("id", *bit_cols)
    band_keys = [
        F.concat_ws("", *[F.col(f"b{b * r + j}").cast("string")
                          for j in range(r)]).alias(f"band{b}")
        for b in range(bands)
    ]
    bands_long = sig.select("id", *band_keys).select(
        "id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)]))
        .alias("band_idx", "band_key"),
    )
    a, b_ = bands_long.alias("a"), bands_long.alias("b")
    cand = (
        a.join(b_, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    # Norms hoisted (score_milli_pre_col): one fold per vector on each
    # verification side instead of one per candidate pair; (a_n * b_n)
    # keeps the score_milli_col(va, vb) order — scores bit-identical.
    va = v.select(F.col("id").alias("a_id"), F.col("v").alias("va"),
                  norm_col(F.col("v")).alias("a_n"))
    vb = v.select(F.col("id").alias("b_id"), F.col("v").alias("vb"),
                  norm_col(F.col("v")).alias("b_n"))
    t_milli = int(threshold * 1_000_000)
    return (
        cand.join(va, "a_id").join(vb, "b_id")
        .withColumn("score_milli",
                    score_milli_pre_col(dot_col(F.col("va"), F.col("vb")),
                                        F.col("a_n"), F.col("b_n")))
        .filter(F.col("score_milli") >= t_milli)
        .select("a_id", "b_id", "score_milli")
    )


def semantic_dedup(vectors: DataFrame, tau_milli: int = 800000,
                   k: int = 8, iters: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster_size: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    k-means the embedding space, then prune near-identical pairs WITHIN
    each cluster only — the clustering turns an O(N^2) cosine sweep into
    per-cluster work, which is what makes semantic dedup runnable at web
    scale (the paper dedups LAION-440M this way).

    Deterministic exemplar rule: rank each cluster by (centroid-cosine
    ASC, id ASC) and drop a point iff some EARLIER-ranked point in its
    cluster has pairwise cosine >= ``tau_milli`` (integer millionths).
    The first-ranked survivor of every duplicate group is therefore the
    member LEAST similar to its centroid — the paper's keep-low-
    centroid-similarity choice (§3.2: keeping rim points preserves more
    diversity than keeping the redundant core).

    Scale shape: clustering is ``kmeans_fit`` (broadcast centroids,
    bounded k x dim driver state); candidate pairs come from an
    equi-join on cluster id — never an all-pairs cross join — and the
    paper sizes k so clusters stay small (~N/k docs each); the ranked
    table is persisted because the self-join reads it twice. Exact
    cosines only: reported ``dup_milli`` is never approximate.

    ``max_cluster_size`` ENFORCES the paper's k ∝ N sizing instead of
    assuming it: a cluster larger than the cap is split into rank-
    contiguous slices of at most ``max_cluster_size`` members (slice id
    joins as part of the pair key), so one degenerate mega-cluster —
    e.g. a near-duplicate-heavy crawl collapsing the embedding space —
    can never become an O(c²) hot task: per-slice pair work is bounded
    by cap², and slices shuffle independently. Rank-contiguous slicing
    keeps recall high where it matters (near-identical points have
    near-identical centroid cosine, so they land in the SAME slice);
    the deterministic, oracle-expressible tradeoff is that a duplicate
    pair straddling a slice boundary with no in-slice earlier twin is
    kept — the same boundary loss the paper accepts when it splits
    oversized clusters. Default None preserves the uncapped contract.

    Output, one row per input vector:
    (vec_id, cluster, cent_milli, keep, dup_of, dup_milli) with -1/0
    sentinels when nothing clears the threshold.
    """
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    from .similarity import dot_col, kmeans_fit, norm_col, \
        score_milli_pre_col

    assigned, cents = kmeans_fit(vectors, k=k, iters=iters,
                                 id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cluster").orderBy(
        F.col("cent_milli").asc(), F.col("vec_id").asc())
    # Norms hoisted (score_milli_pre_col): ||nv|| folds ONCE per vector
    # into the persisted ranked table and ||centroid|| once per centroid
    # row on the broadcast side, so centroid scoring costs 1 fold per
    # row and the within-cluster pair sweep 1 fold per pair instead of
    # 3. (na * cn) / (a.na * b.na) keep the score_milli_col argument
    # order, so every score is bit-identical and the oracle stays exact.
    ranked = (
        assigned.withColumn("na", norm_col(F.col("nv")))
        .join(F.broadcast(cents.withColumn(
            "cn", norm_col(F.col("centroid")))), "cluster")
        .withColumn("cent_milli",
                    score_milli_pre_col(
                        dot_col(F.col("nv"), F.col("centroid")),
                        F.col("na"), F.col("cn")))
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("sub",
                    F.floor((F.col("rnk") - 1) / max_cluster_size)
                    .cast("long") if max_cluster_size
                    else F.lit(0).cast("long"))
        .select("cluster", "vec_id", "nv", "na", "cent_milli", "rnk",
                "sub")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = (
        a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
               & (F.col("a.sub") == F.col("b.sub"))
               & (F.col("b.rnk") < F.col("a.rnk")))
        .withColumn("pm", score_milli_pre_col(
            dot_col(F.col("a.nv"), F.col("b.nv")),
            F.col("a.na"), F.col("b.na")))
        .filter(F.col("pm") >= tau_milli)
        .select(F.col("a.vec_id").alias("vec_id"),
                F.col("b.vec_id").alias("b_id"), "pm")
    )
    # best match = highest cosine, ties to the lowest earlier id: a
    # min-struct aggregate over (negated score, id) — combinable, and
    # type-agnostic on the id (negating the ID instead would NULL out on
    # string ids and silently mark duplicates keep=True).
    best = (
        pairs.groupBy("vec_id")
        .agg(F.min(F.struct((-F.col("pm")).alias("neg_pm"),
                            F.col("b_id"))).alias("top"))
        .select("vec_id",
                F.col("top.b_id").alias("dup_of"),
                (-F.col("top.neg_pm")).alias("dup_milli"))
    )
    # Sentinel is type-aware, mirroring snapshot_dedup: numeric ids keep
    # the documented -1 contract (the oracle's shape); string ids carry
    # the real duplicate id with NULL when absent — casting a string id
    # to long would NULL it out and silently mark every dup keep=True.
    from pyspark.sql.types import NumericType

    if isinstance(vectors.schema[id_col].dataType, NumericType):
        dup_out = F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long")
    else:
        dup_out = F.col("dup_of")
    return (
        ranked.join(best, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            "cent_milli",
            F.col("dup_of").isNull().alias("keep"),
            dup_out.alias("dup_of"),
            F.coalesce(F.col("dup_milli"), F.lit(0).cast("long"))
            .alias("dup_milli"),
        )
    )


def simhash_pairs(df: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  bits: int = 16) -> DataFrame:
    """SimHash near-duplicate pairs via the 4-nibble band join.

    Pigeonhole: with 16 bits split into 4 nibbles, any pair at Hamming
    distance <= 3 differs in at most 3 nibbles, so it SHARES at least one
    exact nibble — the band join on (band_idx, nibble) finds every such
    pair (exact recall for max_hamming < 4), then the candidate's true
    distance is verified with one xor+bit_count. Signatures are one
    shuffle; candidates carry ids only.

    Scale note: ``bits`` is the selectivity lever — 16 bits (the oracle
    demo width) collides heavily on same-vocabulary corpora; production
    uses bits=64 (band width 16), same pigeonhole bound with random band
    collisions at ~1/65536 per band.
    """
    from pyspark.storagelevel import StorageLevel
    # the signature table feeds the band join AND both verification sides;
    # without persist the md5 signature work runs 3x (same rationale as
    # _shingled)
    s = df.select(F.col(id_col).alias("id"),
                  simhash_col(text_col, bits).alias("sh")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    n_bands = 4
    width = bits // n_bands
    bands_long = s.select(
        "id",
        F.posexplode(F.array(*[
            F.shiftright("sh", b * width).bitwiseAND(F.lit((1 << width) - 1))
            for b in range(n_bands)
        ])).alias("band_idx", "nibble"),
    )
    a, b_ = bands_long.alias("a"), bands_long.alias("b")
    cand = (
        a.join(b_, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.nibble") == F.col("b.nibble"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    sh_a = s.select(F.col("id").alias("a_id"), F.col("sh").alias("sha"))
    sh_b = s.select(F.col("id").alias("b_id"), F.col("sh").alias("shb"))
    return (
        cand.join(sh_a, "a_id").join(sh_b, "b_id")
        .withColumn("hamming",
                    F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "sha", "shb", "hamming")
    )


def simhash_col(text: str | Column = "text", bits: int = 16) -> Column:
    """bits-bit SimHash over distinct tokens (md5-prefix token hashes).

    Works up to bits=64: the bit weight is built with shiftleft on a long
    (a Python-side ``1 << 63`` literal would overflow py4j's long), and
    the token hash takes ceil(bits/4) hex chars of the md5 — bit 63 lands
    in the BIGINT sign position, which is fine for the equality/xor/
    bit_count uses signatures have.

    SINGLE PASS over the token hashes: the bit balances accumulate in one
    ``aggregate`` with an array accumulator (zip_with add). The naive
    per-bit form inlines the md5 token-hash expression once per bit —
    Catalyst does not CSE inside higher-order lambdas — so at 64 bits it
    digests every token 64 times (39.7s -> 5.5s at sf0.1 for the pairs
    query when switched to this form)."""
    if bits <= 16:
        # oracle-pinned form: one 4-hex-char prefix per token
        def tok_hash(t):
            return F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
    else:
        # 64-bit hash from two 32-bit halves (conv of >15 hex chars can
        # exceed signed-BIGINT range and fail the cast)
        def tok_hash(t):
            h = F.md5(t)
            hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)
    hashes = F.transform(F.array_distinct(tokens_col(text)), tok_hash)
    ks = F.sequence(F.lit(0), F.lit(bits - 1))
    # shiftright/shiftleft by a COLUMN shift amount: the Python helpers
    # only take int literals, the SQL functions take expressions
    balance = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(ks, lambda k: F.when(
                F.call_function("shiftright", h, k)
                .bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))),
            lambda a, b: a + b,
        ),
    )
    weights = F.transform(
        ks, lambda k: F.call_function("shiftleft", F.lit(1).cast("long"), k))
    return F.aggregate(
        F.zip_with(
            balance, weights,
            lambda b, w: F.when(b > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("long")


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (CCNet-style)
# ---------------------------------------------------------------------------

def word_chunks_col(text: str | Column = "text", k: int = 5) -> Column:
    """Deterministic "paragraphs": consecutive k-word chunks of the text
    (the corpus carries no newlines, so paragraph operators chunk words;
    real corpora would split on \\n\\n instead — same operator shape).
    """
    words = F.split(text, " ")
    n_chunks = F.floor((F.size(words) - F.lit(1)) / F.lit(k))
    return F.transform(
        F.sequence(F.lit(0), n_chunks),
        lambda i: F.concat_ws(" ", F.slice(words, i * k + 1, k)),
    )


def paragraph_dedup(df: DataFrame, para_col: str = "paragraphs",
                    id_col: str = "doc_id") -> DataFrame:
    """CCNet-style paragraph-level exact dedup: a paragraph survives only
    at its first occurrence across the corpus (lowest (doc_id, position));
    every later copy is dropped from its document.

    Scale shape (10^12 docs): positions explode once; "first occurrence"
    is a min-struct aggregate on the paragraph md5 — combinable, so
    map-side partials absorb hot boilerplate paragraphs before the
    shuffle (a row_number window would put every copy of a hot paragraph
    in one partition). The keep-join is an equi-join on the same uniform
    md5 key (AQE skew-split applies), and reassembly is one doc_id
    shuffle with an order-restoring sort_array — collect_list order is
    not deterministic, sort_array(struct(pos, para)) is.
    """
    ex = (df.select(id_col, F.posexplode(para_col).alias("pos", "para"))
            .withColumn("ph", F.md5("para")))
    firsts = ex.groupBy("ph").agg(
        F.min(F.struct(id_col, "pos")).alias("first"))
    kept = ex.join(firsts, "ph").withColumn(
        "keep",
        (F.col(id_col) == F.col("first")[id_col])
        & (F.col("pos") == F.col("first.pos")))
    return (kept.groupBy(id_col).agg(
        F.count("*").alias("n_paras"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
         .cast("long").alias("n_kept"),
        F.concat_ws("\n\n", F.transform(
            F.sort_array(F.collect_list(F.when(
                F.col("keep"), F.struct("pos", "para")))),
            lambda s: s.para,
        )).alias("text_kept"),
    ))


# ---------------------------------------------------------------------------
# Exact substring dedup (suffix-array style, Lee et al. 2021)
# ---------------------------------------------------------------------------

def exact_substring_dedup(df: DataFrame, k: int = 4,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Exact substring dedup a la Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): any
    k-token window whose fingerprint occurs more than once corpus-wide is
    removed from every occurrence EXCEPT the corpus-first one (lowest
    (doc_id, pos) — the same first-occurrence-wins rule as
    paragraph_dedup). A token is dropped iff some removed window covers
    it, so overlapping removed windows merge implicitly through the
    coverage mask.

    The reference recipe builds one suffix array over the concatenated
    corpus — inherently single-machine. The distributed re-expression:

    * fingerprint every k-token window (k = the duplicated-substring
      length threshold; the paper uses 50 BPE tokens, the word-soup gate
      corpus needs 4 to produce hits);
    * "first occurrence" is a combinable min-struct aggregate on the
      window hash — map-side partials absorb hot boilerplate windows
      before the shuffle;
    * per-doc reconstruction uses a sliding-window-OR coverage mask
      built from k pre-shifted zip_with passes — O(k*T) per doc, no
      quadratic term (the element_at-in-transform trap re-evaluates the
      upstream expression per element, so tokens are materialized as a
      real column first).

    Scale shape (100 TB): windows explode once (T rows per doc — the
    same order of work as the shingle explode every LSH query pays); the
    aggregate and join keys are uniform md5s (AQE skew handling applies);
    reassembly is one doc_id shuffle with sort_array restoring order.
    """
    d = df.select(F.col(id_col).alias("id"),
                  F.split(text_col, " ").alias("toks"))
    wins = d.select(
        "id",
        F.posexplode(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - k),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("toks", i + F.lit(1), k))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )
    firsts = wins.groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("first"),
        F.count("*").alias("cnt"))
    flags = (
        wins.join(firsts, "h")
        .select(
            "id", "pos",
            ((F.col("cnt") > 1)
             & ~((F.col("id") == F.col("first.id"))
                 & (F.col("pos") == F.col("first.pos"))))
            .cast("int").alias("dup")))
    per_doc = flags.groupBy("id").agg(
        F.count("*").cast("long").alias("n_windows"),
        F.sum("dup").cast("long").alias("n_dup_windows"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "dup"))),
            lambda s: s.dup).alias("wflags"))
    out = d.join(per_doc, "id", "left")

    # Window p covers tokens p..p+k-1, so token i is covered iff a dup
    # window starts in [i-k+1, i]: an OR over k right-shifted copies of
    # the start-flag array (padded to token length with k-1 zeros).
    base = F.concat(F.col("wflags"),
                    F.array_repeat(F.lit(0), F.lit(k - 1)))

    def _shifted(j: int) -> Column:
        if j == 0:
            return base
        return F.concat(F.array_repeat(F.lit(0), F.lit(j)),
                        F.slice(base, F.lit(1), F.size(base) - F.lit(j)))

    mask = _shifted(0)
    for j in range(1, k):
        mask = F.zip_with(mask, _shifted(j), lambda a, b: F.greatest(a, b))
    covered = F.when(F.col("wflags").isNull(),
                     F.array_repeat(F.lit(0), F.size("toks"))).otherwise(mask)
    kept = F.filter(
        F.zip_with(F.col("toks"), covered,
                   lambda t, c: F.when(c == F.lit(0), t)),
        lambda x: x.isNotNull())
    return out.select(
        F.col("id").alias(id_col),
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("long")
         .alias("n_dup_windows"),
        F.aggregate(covered, F.lit(0), lambda a, x: a + x).cast("long")
         .alias("n_removed_tokens"),
        F.concat_ws(" ", kept).alias("text_kept"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a corpus snapshot
# ---------------------------------------------------------------------------

def shingle_band_tables(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = MINHASH_K,
                        bands: int = LSH_BANDS
                        ) -> tuple[DataFrame, DataFrame]:
    """One side's minhash-join artifacts: the persisted (id, shingles)
    table plus the long-format (id, band_idx, band_key) table. Compute
    once and pass to ``snapshot_dedup`` via ``snap_tables`` when the same
    side is reused across many calls — the streaming twin reuses the
    static snapshot every micro-batch, and recomputing (and re-persisting)
    it per trigger repeats the snapshot's full shingle/signature work N
    times and leaves N persisted shingle tables (see ``_shingled``)."""
    r = k // bands
    s = _shingled(df, id_col, text_col)
    sig = s.withColumn("hp", minhash_hash_pairs_col(F.col("sh")))
    sig = sig.select("id", *minhash_sig_cols(F.col("hp"), k))
    band_keys = [
        F.md5(F.concat_ws(
            "|", *[F.col(f"mh{b * r + j}") for j in range(r)]))
        .alias(f"band{b}")
        for b in range(bands)
    ]
    lng = sig.select("id", *band_keys).select(
        "id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)]))
        .alias("band_idx", "band_key"),
    )
    return s, lng


def snapshot_dedup_tables(snap_df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = MINHASH_K,
                          bands: int = LSH_BANDS):
    """Precompute EVERYTHING ``snapshot_dedup`` needs from the static
    snapshot side — shingles, band keys, and the persisted distinct
    fingerprint set — so a recurring ingest loop pays the snapshot scan
    once, not once per micro-batch."""
    from pyspark.storagelevel import StorageLevel
    s, lng = shingle_band_tables(snap_df, id_col, text_col, k, bands)
    fp = (snap_df.select(fingerprint_col(text_col).alias("fp"))
          .distinct().withColumn("fp_hit", F.lit(True))
          .persist(StorageLevel.MEMORY_AND_DISK))
    return s, lng, fp


def snapshot_dedup(new_df: DataFrame, snap_df: DataFrame,
                   threshold: float,
                   id_col: str = "doc_id", text_col: str = "text",
                   k: int = MINHASH_K, bands: int = LSH_BANDS,
                   snap_tables=None) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus snapshot — the
    incremental form every recurring crawl ingest needs (the self-join
    operators above answer "what duplicates exist"; this answers "which
    arriving docs may enter the corpus").

    Two tiers, both new-vs-snapshot only (never snapshot-vs-snapshot):

    * exact — md5 fingerprint equi-join against the DISTINCT snapshot
      fingerprint set (at 100 TB that set is a bucketed table or a Bloom
      pre-filter; the join key is a uniform hash either way);
    * near — MinHash band keys computed per side, candidates from the
      (band_idx, band_key) equi-join between the sides, exact-Jaccard
      verification against the snapshot shingle table, best match =
      highest jaccard_milli with lowest snapshot id on ties (a min-struct
      aggregate over (negated score, id) — deterministic, combinable,
      type-agnostic on the id column).

    The snapshot artifacts are recomputed here for self-containment; a
    production or streaming loop precomputes them ONCE with
    ``snapshot_dedup_tables`` and passes them via ``snap_tables`` so
    each ingest amortizes the snapshot scan (same plan from the join
    onward). Output is one row per new doc: (id, exact_dup,
    near_dup_id, jaccard_milli, keep) with -1/0 sentinels (numeric ids;
    string ids carry NULL) when no near-dup clears the threshold.
    """
    s_new, lng_new = shingle_band_tables(new_df, id_col, text_col, k, bands)
    if snap_tables is not None:
        s_snap, lng_snap, snap_fp = snap_tables
    else:
        s_snap, lng_snap, snap_fp = snapshot_dedup_tables(
            snap_df, id_col, text_col, k, bands)

    cand = (
        lng_new.alias("n")
        .join(lng_snap.alias("s"),
              (F.col("n.band_idx") == F.col("s.band_idx"))
              & (F.col("n.band_key") == F.col("s.band_key")))
        .select(F.col("n.id").alias("new_id"), F.col("s.id").alias("snap_id"))
        .dropDuplicates(["new_id", "snap_id"])
    )
    verified = (
        cand.join(s_new.select(F.col("id").alias("new_id"),
                               F.col("sh").alias("sha")), "new_id")
        .join(s_snap.select(F.col("id").alias("snap_id"),
                            F.col("sh").alias("shb")), "snap_id")
        .select(
            "new_id", "snap_id",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            F.size("sha").alias("na"), F.size("shb").alias("nb"))
        .withColumn("jaccard",
                    F.col("inter") / (F.col("na") + F.col("nb")
                                      - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .withColumn("jaccard_milli",
                    F.floor(F.col("jaccard") * 1000000.0 + 0.5).cast("long"))
    )
    # min-struct over (negated score, id): highest jaccard, ties to the
    # lowest snapshot id — type-agnostic on the id column (the engine's
    # own extraction outputs carry STRING doc_ids like "7/a.zip/x.txt";
    # negating the id would implicit-cast to NULL and silently report
    # genuine near-dups as keep=True).
    best = (
        verified.groupBy("new_id")
        .agg(F.min(F.struct((-F.col("jaccard_milli")).alias("neg_jm"),
                            F.col("snap_id"))).alias("top"))
        .select(F.col("new_id").alias("id"),
                F.col("top.snap_id").alias("near_dup_id"),
                (-F.col("top.neg_jm")).alias("jaccard_milli"))
    )
    exact = (new_df.select(F.col(id_col).alias("id"),
                           fingerprint_col(text_col).alias("fp"))
             .join(snap_fp, "fp", "left")
             .select("id", F.coalesce("fp_hit", F.lit(False))
                     .alias("exact_dup")))
    from pyspark.sql.types import NumericType

    # Sentinel is type-aware: numeric ids keep the documented -1/0
    # contract (the oracle's shape); string ids (the engine's own
    # extraction outputs) carry the real id with NULL when absent —
    # coalescing -1 into a string column would THROW under ANSI.
    if isinstance(new_df.schema[id_col].dataType, NumericType):
        near_out = F.coalesce("near_dup_id", F.lit(-1)).cast("long")
    else:
        near_out = F.col("near_dup_id")
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(exact, "id", "left")
        .join(best, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            near_out.alias("near_dup_id"),
            F.coalesce("jaccard_milli", F.lit(0)).cast("long")
             .alias("jaccard_milli"),
            (~F.coalesce("exact_dup", F.lit(False))
             & F.col("near_dup_id").isNull()).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (GPT-3 appendix-C style n-gram overlap)
# ---------------------------------------------------------------------------

def contamination_flags(df: DataFrame, bench_pred: Column, n: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Flag training docs sharing any word n-gram with a held-out
    benchmark/eval subset (the GPT-3 decontamination recipe; production
    uses n of 8-13 — the word-soup gate corpus needs n=3 for hits).

    Scale shape: the benchmark side reduces to DISTINCT grams and
    broadcasts (at 100 TB you'd compile it into a Bloom filter — same
    join shape, approximate membership); the corpus side explodes once
    and equi-joins — never an all-pairs comparison. Output is one row
    per non-benchmark doc: (id, n_hits, contaminated).
    """
    s = df.select(F.col(id_col).alias("id"),
                  shingles_col(text_col, n).alias("g"),
                  bench_pred.alias("is_bench"))
    bench = (s.filter(F.col("is_bench"))
              .select(F.explode("g").alias("gram")).distinct())
    ex = (s.filter(~F.col("is_bench"))
           .select("id", F.explode("g").alias("gram")))
    hits = (ex.join(F.broadcast(bench), "gram")
              .groupBy("id")
              .agg(F.count_distinct("gram").alias("hits")))
    return (s.filter(~F.col("is_bench")).select("id")
             .join(hits, "id", "left")
             .select(
                 "id",
                 F.coalesce("hits", F.lit(0)).cast("long").alias("n_hits"),
                 (F.coalesce("hits", F.lit(0)) > 0).alias("contaminated")))


_TRACKING_PARAMS = ("utm_", "gclid=", "fbclid=", "msclkid=")
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonical_url_col(url: str | Column = "url") -> Column:
    """URL canonicalization for web-corpus dedup, pure Catalyst
    (``parse_url`` is JVM-side):

    * try_parse_url throughout: under ANSI mode plain parse_url THROWS
      on any malformed URL (one junk row would kill the whole job);
      unparseable URLs fall back to the raw string as their own key
    * scheme and host lowercased
    * default port dropped (``:80`` http / ``:443`` https), others kept
    * fragment dropped
    * tracking params stripped (``utm_*``/gclid/fbclid/msclkid), other
      query params kept in original order; an emptied query drops ``?``
    * trailing path slashes trimmed (so ``/a/`` == ``/a`` and a bare
      host == host + ``/``)

    The same page fetched through campaign links, fragment anchors and
    mixed-case hosts collapses to one key — the standard first pass
    before content-level dedup in a crawl pipeline.
    """
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    authority = F.try_parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    default_port = F.lit("")
    for sch, dp in _DEFAULT_PORTS.items():
        default_port = F.when(scheme == sch, F.lit(dp)).otherwise(default_port)
    port_part = F.when((port == "") | (port == default_port), F.lit("")) \
                 .otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit("")), r"/+$", "")
    query = F.coalesce(F.try_parse_url(u, F.lit("QUERY")), F.lit(""))

    def _is_tracking(p):
        cond = (p == "")
        for prefix in _TRACKING_PARAMS:
            cond = cond | p.startswith(prefix)
        return cond

    kept = F.filter(F.split(query, "&"), lambda p: ~_is_tracking(p))
    query_part = F.when(F.size(kept) > 0,
                        F.concat(F.lit("?"), F.array_join(kept, "&"))) \
                  .otherwise(F.lit(""))
    canon = F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
    # Unparseable URLs (parse_url -> NULL) must NOT collapse into one
    # NULL-key dedup cluster of unrelated docs — they fall back to the
    # raw string as their own key.
    return F.when(scheme.isNull() | host.isNull(), u).otherwise(canon)


# Simplified public-suffix logic: the common multi-label suffixes where
# the registrable domain is three labels, not two. Production swaps in
# the full Public Suffix List — same plan, a bigger literal/broadcast set.
_MULTI_LABEL_SUFFIXES = [
    "co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tr", "com.ar", "co.za",
]


def registrable_domain_col(host: Column) -> Column:
    """eTLD+1 extraction (simplified PSL): keep 3 labels when the host
    ends in a known multi-label public suffix, else 2; hosts with fewer
    labels than that pass through whole."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    is_multi = F.lit(False)
    for s in _MULTI_LABEL_SUFFIXES:
        is_multi = is_multi | host.endswith("." + s)
    take = F.when(is_multi, F.lit(3)).otherwise(F.lit(2))
    return F.when(n <= take, host).otherwise(
        F.array_join(F.slice(labels, n - take + 1, take), "."))


def url_quality_filter(df: DataFrame, blocklist: DataFrame,
                       nsfw_weights: list[tuple[str, int]],
                       threshold_milli: int = 1_000_000,
                       url_col: str = "url",
                       id_col: str = "doc_id") -> DataFrame:
    """RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1) — the
    first curation pass of a crawl, applied to the URL alone before any
    fetch or extraction spend:

    * hard drop — the registrable domain (eTLD+1, so subdomains cannot
      dodge the list) appears in ``blocklist`` (a one-column ``domain``
      DataFrame; RefinedWeb uses a 4.6M-domain list — MBs, so it
      BROADCASTS and the corpus never shuffles);
    * soft drop — a weighted word score over the lowercased URL
      (substring hits, weights in millionths); drop at
      ``score >= threshold_milli``;
    * unparseable URLs drop (a crawl pipeline cannot fetch them anyway)
      but stay in the output with parse_ok=false for audit.

    Everything is pure Catalyst: ``try_parse_url`` (never the throwing
    ANSI form), a literal fold for the bounded word list, one broadcast
    join, zero added shuffles.

    Output: (id, url, host, domain, blocked, nsfw_milli, parse_ok, keep).
    """
    u = F.col(url_col)
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    low = F.lower(u)
    score = F.lit(0).cast("long")
    for word, w in nsfw_weights:
        score = score + F.when(low.contains(word.lower()),
                               F.lit(int(w))).otherwise(F.lit(0))
    base = df.select(
        F.col(id_col), u.alias("url"), host.alias("host"),
        F.when(host.isNotNull(), registrable_domain_col(host))
        .alias("domain"),
        score.alias("nsfw_milli"), host.isNotNull().alias("parse_ok"),
    )
    bl = blocklist.select(F.col("domain").alias("domain"),
                          F.lit(True).alias("_bl"))
    return (
        base.join(F.broadcast(bl), "domain", "left")
        .select(
            id_col, "url", "host", "domain",
            F.coalesce(F.col("_bl"), F.lit(False)).alias("blocked"),
            "nsfw_milli", "parse_ok",
            (F.col("parse_ok") & F.coalesce(~F.col("_bl"), F.lit(True))
             & (F.col("nsfw_milli") < threshold_milli)).alias("keep"),
        )
    )


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the canonical URL: one shuffle on the canonical key
    with map-side partial aggregates (min-id keep + copy count) — the
    same 100 TB shape as exact content dedup."""
    canon = df.withColumn("canonical_url", canonical_url_col(url_col))
    return canon.groupBy("canonical_url").agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter snapshot membership (the "seen before?" scale path)
# ---------------------------------------------------------------------------

BLOOM_WORD_BITS = 60    # bits per packed long: max shift 59 stays inside
                        # signed-64 range in Spark AND DuckDB (DuckDB
                        # overflow-checks 1::BIGINT << 63)


def _bloom_positions(fp: Column, m_bits: int, k: int) -> list[Column]:
    """k uniform bit positions in [0, m_bits) from md5(j:fingerprint) —
    the md5-derived-hash family every deterministic operator here uses
    (same 8-hex-chars-to-BIGINT idiom as sampling.hash_bucket_col, so
    the DuckDB twin is exact)."""
    return [
        F.conv(F.substring(
            F.md5(F.concat(F.lit(str(j)), F.lit(":"), fp)), 1, 8),
            16, 10).cast("long") % m_bits
        for j in range(k)
    ]


def _bloom_word_table(snapshot: DataFrame, text_col: str,
                      m_bits: int, k: int) -> DataFrame:
    """(w, bits) packed-word table over the snapshot: explode k
    positions per fingerprint, bit_or the masks per word — one
    combinable aggregation, output bounded by m/60 rows. The ONE owner
    of position packing for both physical forms."""
    fp = F.md5(F.col(text_col))
    return (snapshot.select(F.explode(F.array(
                *_bloom_positions(fp, m_bits, k))).alias("p"))
            .select(F.call_function("div", F.col("p"),
                                    F.lit(BLOOM_WORD_BITS)).alias("w"),
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"),
                        (F.col("p") % BLOOM_WORD_BITS).cast("int"))
                    .alias("mask"))
            .groupBy("w").agg(F.bit_or("mask").alias("bits")))


def bloom_filter_words(snapshot: DataFrame, text_col: str = "text",
                       m_bits: int = 480, k: int = 4) -> list[int]:
    """Build the m-bit filter over the snapshot as ``m_bits/60`` packed
    longs — bounded driver state (m/60 longs, the k-means-centroid
    shape), NOT a per-row collect."""
    n_words = (m_bits + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS
    rows = _bloom_word_table(snapshot, text_col, m_bits, k).collect()
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_member_col(text_col: str | Column, words: list[int],
                     m_bits: int, k: int = 4) -> Column:
    """Row-local membership test against a literal packed-word array:
    ALL k bits set. Pure codegen (conv/md5/bitwise) — a scan-level
    filter with ZERO shuffle and zero Python, the whole point of the
    Bloom path. False positives are inherent and deterministic: callers
    audit them with an exact join (see the dedup_bloom driver query)."""
    arr = F.array(*[F.lit(int(wv)).cast("long") for wv in words])
    fp = F.md5(text_col if isinstance(text_col, Column)
               else F.col(text_col))
    hits = []
    for p in _bloom_positions(fp, m_bits, k):
        word = F.call_function("div", p, F.lit(BLOOM_WORD_BITS))
        mask = F.call_function("shiftleft", F.lit(1).cast("long"),
                               (p % BLOOM_WORD_BITS).cast("int"))
        hits.append(F.element_at(arr, (word + 1).cast("int"))
                    .bitwiseAND(mask) != 0)
    out = hits[0]
    for h in hits[1:]:
        out = out & h
    return out


def bloom_snapshot_filter(corpus: DataFrame, snapshot: DataFrame,
                          text_col: str = "text", m_bits: int = 480,
                          k: int = 4,
                          max_literal_words: int = 2048) -> DataFrame:
    """Tag each corpus row with ``bloom_member``: does its text MAYBE
    exist in the snapshot? The incremental-ingest pre-filter
    snapshot_dedup's docstring promises: at 100 TB the distinct
    snapshot fingerprint set is too big to equi-join per micro-batch,
    so the filter is the first gate — misses (the common case for fresh
    crawl content) never shuffle at all; only maybe-members go on to
    the exact fingerprint join.

    Two physical forms, same results:

    * ``m_bits <= max_literal_words*60``: the packed words ride the plan
      as a literal array — membership is a pure scan-side codegen
      filter, zero shuffle, zero Python (bounded driver state builds
      the literal, m/60 longs).
    * larger filters: the (word, bits) table is broadcast-joined against
      the exploded probe positions and bool_and-aggregated per row —
      one broadcast + one combinable aggregate, still never a
      corpus-vs-snapshot join. (Beyond broadcast range you would shard
      the bitmap by word — the probe join key already is the word.)
    """
    n_words = (m_bits + BLOOM_WORD_BITS - 1) // BLOOM_WORD_BITS
    if n_words <= max_literal_words:
        words = bloom_filter_words(snapshot, text_col, m_bits, k)
        return corpus.withColumn(
            "bloom_member", bloom_member_col(text_col, words, m_bits, k))
    fp = F.md5(F.col(text_col))
    word_df = _bloom_word_table(snapshot, text_col, m_bits, k)
    # A unique per-row key keeps duplicate corpus rows distinct through
    # the explode/aggregate round-trip (grouping by the corpus columns
    # would collapse identical rows — and maps are not even groupable).
    # The whole row rides the aggregate as a struct, so this stays a
    # single corpus pass with no join-back.
    # _rid must be assigned BEFORE the explode (an id expression in the
    # same select as a generator lands in the post-Generate project and
    # would number every exploded position, not every row)
    tagged = corpus.select(
        F.monotonically_increasing_id().alias("_rid"),
        F.struct(*corpus.columns).alias("_row"),
        F.col(text_col if isinstance(text_col, str) else "text"))
    probe = tagged.select(
        "_rid", "_row",
        F.posexplode(F.array(*_bloom_positions(fp, m_bits, k)))
        .alias("_j", "_p"))
    probe = (probe
             .withColumn("_w", F.call_function("div", F.col("_p"),
                                               F.lit(BLOOM_WORD_BITS)))
             .join(F.broadcast(word_df), F.col("_w") == F.col("w"), "left")
             .withColumn("_hit", F.coalesce(F.col("bits"), F.lit(0))
                         .bitwiseAND(F.call_function(
                             "shiftleft", F.lit(1).cast("long"),
                             (F.col("_p") % BLOOM_WORD_BITS).cast("int")))
                         != 0))
    verdict = probe.groupBy("_rid").agg(
        F.first("_row").alias("_row"),
        F.bool_and("_hit").alias("bloom_member"))
    return verdict.select("_row.*", "bloom_member")
