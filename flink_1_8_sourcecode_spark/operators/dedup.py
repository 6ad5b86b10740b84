"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (SURVEY.md §2.16 north-star set).

Scale design:
- exact_dedup: one hash shuffle on the dedup key; the keeper is chosen
  deterministically (min of a tie-break column) so results are stable —
  ``dropDuplicates`` keeps an arbitrary row and is only used where the
  caller doesn't care.
- MinHash: one md5 per shingle and an affine hash family
  (``minhash_band_rows``), with map-side partial minima, so signatures
  cost one small shuffle.  LSH banding turns the O(n^2) pair space into a
  self-join on (band_id, band_hash) — the standard shuffle-friendly
  reduction; candidate verification happens only inside buckets.
- SimHash: 32-bit fingerprint from per-token md5 bits, map-only.
- n-gram Jaccard / embedding cosine: blocked self-joins (caller supplies
  the blocking key) — never an unconstrained cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.operators.text import md5_base28, shingles, tokens

# Affine min-hash family over a single md5-derived base value (28-bit):
# h_i(x) = (A[i] * base(x) + B[i]) mod P.  Deterministic, engine-portable.
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_A = [
    1000003, 999983, 824633, 715827, 611953, 524287, 402653, 337821,
    268435, 198491, 160481, 131071, 104729, 86243, 65537, 49157,
]
MINHASH_B = [
    12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869,
    3145739, 6291469, 12582917, 25165843, 50331653, 100663319, 201326611, 402653189,
]


def exact_dedup(df: DataFrame, keys: list[str], keep_by: str) -> DataFrame:
    """Keep exactly one row per ``keys`` group: the one with the smallest
    ``keep_by`` value (deterministic)."""
    w = Window.partitionBy(*keys).orderBy(F.col(keep_by).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """LSH band rows ``(__id, band_id, band_hash)`` for every document —
    the shared front half of MinHash LSH (self-join dedup AND cross-
    corpus decontamination build on the same band relation).

    Plan shape (the 100 TB path): explode shingles to rows, ONE md5 per
    shingle, then groupBy(doc).min per seed — map-side partial mins make
    the shuffle tiny, and no expression is evaluated more than once.
    (The naive nested-array form looks the same logically but Catalyst's
    projection collapse would inline the whole signature expression into
    every downstream reference — a measured ~100x blowup.)  The k-hash
    family is affine over the 28-bit base value: h_i = (a_i*h + b_i)
    mod p; products stay < 2^59 — exact in int64 on both engines, so
    the DuckDB oracle replicates bit-for-bit.
    """
    r = num_hashes // bands
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("__s"),
    )
    base = md5_base28(F.col("__s"))
    hashed = exploded.select("__id", base.alias("__b"))
    sig = hashed.groupBy("__id").agg(
        *[
            F.min((F.lit(MINHASH_A[i]) * F.col("__b") + F.lit(MINHASH_B[i])) % MINHASH_P).alias(
                f"__h{i}"
            )
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.concat_ws(
                            "#", *[F.col(f"__h{j * r + i}") for i in range(r)]
                        ).alias("band_hash"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "b.band_id", "b.band_hash")


def decontaminate_fuzzy(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str | None = None,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    flag_col: str = "contaminated_fuzzy",
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: flag training documents
    whose MinHash signature shares >= 1 LSH band with ANY benchmark/eval
    document.  The fuzzy counterpart of :func:`~flink_1_8_sourcecode_spark.
    operators.text.decontaminate` (exact n-gram overlap) — catches
    lightly-edited eval leakage (reformatted whitespace, a swapped
    sentence) that exact n-gram matching misses, the documented gap in
    GPT-3-style decontamination (Brown et al. 2020, app. C).

    Returns ``df`` + a boolean ``flag_col``.  Scale: the benchmark side
    is small by definition — its distinct band hashes BROADCAST into a
    left-semi join against the training band rows, so the corpus is
    never shuffled for the probe; the only corpus-wide exchange is the
    signature groupBy's tiny partial-min rows.
    """
    bench_text = bench_text_col or text_col
    # each benchmark row needs its OWN signature (merging ids would pool
    # shingles across docs into one meaningless minimum); the id values
    # themselves never surface, so a synthetic unique id is fine
    bench_bands = (
        minhash_band_rows(
            benchmark.select(
                F.monotonically_increasing_id().alias("__bid"),
                F.col(bench_text).alias("__bt"),
            ),
            "__bid",
            "__bt",
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        )
        .select("band_id", "band_hash")
        .distinct()
    )
    train_bands = minhash_band_rows(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k
    )
    hit_ids = (
        train_bands.join(F.broadcast(bench_bands), ["band_id", "band_hash"], "left_semi")
        .select(F.col("__id").alias(id_col))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        df.join(hit_ids, id_col, "left")
        .withColumn(flag_col, F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__hit")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int | None = 64,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing >= 1 LSH band.

    rows_per_band = num_hashes // bands; a pair collides on band j when
    the concatenation of its band signature rows matches.

    Plan shape (the 100 TB path): explode shingles to rows, hash each
    shingle once per seed, then groupBy(doc).min per seed — map-side
    partial mins make the shuffle tiny, and no expression is evaluated
    more than once.  (The naive nested-array form looks the same
    logically but Catalyst's projection collapse would inline the whole
    signature expression into every downstream reference — a measured
    ~100x blowup.)

    Hot-bucket guard: a boilerplate bucket of n docs would make an
    n^2/2 pair blow-up inside ONE join task (10^5 docs -> 5*10^9 pairs).
    Buckets larger than ``max_bucket_size`` are star-linked instead:
    every member pairs with the bucket's min id only (n-1 pairs).  The
    transitive closure — what downstream connected-components dedup
    consumes — is identical, and per-bucket output drops from O(n^2)
    to O(n).  ``max_bucket_size=None`` disables the guard (all-pairs).
    """
    band_rows = minhash_band_rows(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands, shingle_k=shingle_k
    )
    if max_bucket_size is None:
        a = band_rows.alias("a")
        b = band_rows.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .distinct()
        )
    # bucket stats via a window over the SAME partition key the pair join
    # shuffles on: every downstream branch (both self-join sides + the
    # hot-bucket filter) then shares one identical subplan, so Spark's
    # ReusedExchange computes the expensive signature pipeline once.
    # Measured alternatives at sf0.1 local[32] (median of 3):
    #   window guard (this shape)                  2.44 s
    #   persist(sig) + agg + broadcast hot keys    3.6-6.0 s  (SMJ sorts
    #     band_rows twice — the reused window sort does it once — and
    #     pays cache population per fresh plan)
    #   groupBy-stats + shuffle join-back (r1)     ~2x window (defeats
    #     ReusedExchange; the signature pipeline recomputes per branch)
    wb = Window.partitionBy("band_id", "band_hash")
    rows = band_rows.withColumn("__n", F.count(F.lit(1)).over(wb)).withColumn(
        "__anchor", F.min("__id").over(wb)
    )
    small = rows.filter(F.col("__n") <= max_bucket_size).select(
        "__id", "band_id", "band_hash"
    )
    a, b = small.alias("a"), small.alias("b")
    small_pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.__id") < F.col("b.__id")),
    ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    hot_pairs = rows.filter(
        (F.col("__n") > max_bucket_size) & (F.col("__id") != F.col("__anchor"))
    ).select(F.col("__anchor").alias("id_a"), F.col("__id").alias("id_b"))
    return small_pairs.unionByName(hot_pairs).distinct()


def simhash32(text: Column) -> Column:
    """32-bit SimHash: per-token md5 -> first 8 hex chars -> 32 bits;
    bit j of the fingerprint is 1 iff more tokens set bit j than clear it.

    Pure Column expressions: conv(hex,16,10) is JVM-side; the bit loop
    unrolls to 32 expressions inside one codegen stage.
    """
    t = F.array_distinct(tokens(text))
    h = F.transform(t, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long"))

    def bit_counter(j: int):
        return lambda acc, v: acc + F.shiftright(v, j).bitwiseAND(F.lit(1))

    bit_sums = [F.aggregate(h, F.lit(0).cast("long"), bit_counter(j)) for j in range(32)]
    n = F.size(t)
    out = F.lit(0).cast("long")
    for j, s in enumerate(bit_sums):
        out = out + F.when(s * 2 > n, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs inside a blocking key."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        shingles(F.col(text_col), shingle_k).alias("__sh"),
    )
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.array_union(F.col("a.__sh"), F.col("b.__sh")))
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("a.__blk") == F.col("b.__blk")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Cosine near-duplicate pairs inside a blocking key (double math)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(block_col).alias("__blk"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.__v"), F.col("b.__v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (norm(F.col("a.__v")) * norm(F.col("b.__v")))
    return (
        a.join(b, (F.col("a.__blk") == F.col("b.__blk")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance.

    Banding is the blocking (pigeonhole): a 32-bit fingerprint splits
    into 4 byte-bands; hamming(a, b) <= 3 forces at least one equal
    band, so candidates come from 4 band-equality self-joins (shuffle
    keyed on (band_id, band_value) — the collision classes), then the
    exact hamming check runs inside buckets with bit_count(xor).
    Never an unconstrained O(n^2) cross join.
    """
    fp = df.select(F.col(id_col).alias("__id"), simhash32(F.col(text_col)).alias("__fp"))
    band_rows = fp.select(
        "__id", "__fp",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band_id"),
                    F.shiftright("__fp", 8 * j).bitwiseAND(F.lit(255)).alias("band_val"),
                )
                for j in range(4)
            ])
        ).alias("b"),
    ).select("__id", "__fp", "b.band_id", "b.band_val")
    a, b = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(F.bit_count(F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))) <= max_hamming)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__fp").bitwiseXOR(F.col("b.__fp"))).alias("hamming"),
        )
        .distinct()
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters and pick one keeper per
    cluster — the step an LLM-data pipeline runs after LSH/SimHash pair
    generation: transitive closure via alternating large-star/small-star
    connected components (Kiveris et al., SoCC'14; graph/graph.py),
    cluster_id = the cluster's min doc id, is_keeper = (id ==
    cluster_id).  Docs in no pair are their own singleton cluster.

    Scale: uses the alternating large-star/small-star components
    (O(log n) rounds) rather than the delta iteration — its cost scales
    with the EDGE set (the near-dup pairs, tiny relative to the corpus),
    whereas label propagation seeds its first superstep with every
    vertex, making isolated documents — the overwhelming majority of a
    deduped corpus — pay shuffle cost for nothing.  Singletons never
    enter the iteration here; they label themselves in the final join.
    """
    from flink_1_8_sourcecode_spark.graph.graph import Graph

    v = docs.select(F.col(id_col).alias("id"))
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = Graph(v, e).connected_components_alternating(
        shuffle_partitions=shuffle_partitions
    )
    return cc.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Refine LSH CANDIDATE pairs with the MinHash Jaccard estimate —
    the fraction of agreeing signature components, an unbiased
    estimator of the true shingle-set Jaccard (Broder 1997).  The
    thresholding step real pipelines run between LSH candidate
    generation and cluster resolution: banding admits false positives
    by design, the estimate kills them cheaply without touching the
    original text pairs.

    Plan: recompute the per-doc signature exactly as
    ``minhash_lsh_pairs`` does (map-side partial mins; Catalyst shares
    the subtree when both run in one plan), then ONE join of the pair
    list against the signature table per side and a component-wise
    ``zip_with`` agreement count — never an n^2 text comparison.
    Returns (id_a, id_b, est_jaccard).
    """
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("__s"),
    )
    base = md5_base28(F.col("__s"))
    hashed = exploded.select("__id", base.alias("__b"))
    sig = hashed.groupBy("__id").agg(
        F.array(
            *[
                F.min(
                    (F.lit(MINHASH_A[i]) * F.col("__b") + F.lit(MINHASH_B[i]))
                    % MINHASH_P
                )
                for i in range(num_hashes)
            ]
        ).alias("__sig")
    )
    a = sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa"))
    b = sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb"))
    agree = F.aggregate(
        F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    k: int = 8,
    iterations: int = 3,
    return_centroids: bool = False,
    checkpoint_dir: str | None = None,
):
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public paper): k-means-cluster the embedding
    space, then WITHIN each cluster drop every item that has a
    same-cluster neighbor with cosine similarity above ``threshold``
    and a smaller id (the deterministic keep-lowest-id representative
    rule).  Returns the KEPT rows as ``(id_col, cluster)``; with
    ``return_centroids=True`` also returns the trained centroid table
    for external recomputation (the conditioned-oracle pattern).

    The reference engine has no embedding-space dedup — this is part of
    the training-data-pipeline family (SURVEY §2.16) alongside the
    MinHash/SimHash text near-dup stack.

    Scale: clustering reuses ``ivf_train`` (corpus never moves, one
    broadcast-join map + k*dim-cell aggregate per Lloyd iteration).
    The pairwise stage is exactly SemDeDup's cost model — O(sum c_i^2
    * dim) inside clusters instead of O(n^2) globally — executed as
    one groupBy(cluster) shuffle and a per-cluster normalized GEMM
    (``X @ X.T`` on an Arrow batch, numpy BLAS) with a boolean
    any-smaller-id reduction; clusters shard across executors.  A
    pathologically giant cluster serializes its own GEMM — raise ``k``
    (the paper's own knob) so max cluster size fits one task.
    """
    import numpy as np
    import pandas as pd

    from flink_1_8_sourcecode_spark.operators.similarity import ivf_train

    assignment, centroids = ivf_train(
        emb, id_col, vec_col, k=k, iterations=iterations,
        return_centroids=True, checkpoint_dir=checkpoint_dir,
    )
    vecs = emb.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    clustered = vecs.join(
        assignment.select(F.col(id_col).alias("__id"), "cluster"), "__id"
    )

    id_t = emb.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, cluster int"

    def keep_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id", kind="mergesort").reset_index(drop=True)
        x = np.asarray(pdf["__v"].tolist(), dtype="float64")
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine treated as 0
        xn = x / norms[:, None]
        sims = xn @ xn.T
        # drop row i when any j < i (sorted by id) has cos > threshold;
        # strict lower triangle = the smaller-id side of every pair
        tri = np.tril(sims > threshold, k=-1)
        dropped = tri.any(axis=1)
        kept = pdf.loc[~dropped, ["__id", "cluster"]].rename(columns={"__id": id_col})
        return kept

    kept = clustered.groupBy("cluster").applyInPandas(keep_cluster, out_schema)
    if return_centroids:
        return kept, centroids
    return kept


def repeated_ngram_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
    hash_prepass: bool = True,
) -> DataFrame:
    """Exact-substring duplication detection a la Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better" —
    public paper), approximated at token n-gram granularity: every
    length-``n`` token window is a candidate span, and spans occurring
    ``min_count``+ times corpus-wide are reported with total occurrence
    and distinct-document counts.  The paper's suffix array finds
    MAXIMAL repeats; fixed-n sliding windows are the bounded-memory
    distributed approximation (any repeat of length L >= n surfaces as
    L-n+1 repeated windows), the standard trade for a shuffle-based
    engine.

    Returns (span, occ, ndocs), occ >= min_count.

    Scale: with ``hash_prepass`` (default) the corpus-wide exchange
    carries only ``(xxhash64(n-token slice), doc id, position)`` — no
    span strings are ever built for the ~|tokens| windows per document;
    the JVM hashes the token slice directly inside the transform
    lambda.  Surviving hashes (a tiny fraction on real corpora) join
    back to their (doc, position) sites, and ONLY those sites
    materialize span text, which a second, survivor-only aggregate
    recounts on the actual strings — so a 64-bit collision can only
    add a candidate site, never corrupt a count, and the final filter
    re-applies ``min_count`` exactly.  The price is scanning the
    corpus twice (hash pass + text pass); the win is the heavy
    exchange shrinking from ~n tokens of text per window to 24 bytes,
    and string materialization dropping from every window to matched
    sites only.  ``hash_prepass=False`` keeps the direct one-scan
    shape (better when nearly every span repeats, e.g. tiny corpora).
    """
    from flink_1_8_sourcecode_spark.operators.text import bind_once

    # bind_once: without it Catalyst inlines the tokenizer into the
    # window lambda and re-splits the text PER WINDOW — O(tokens^2)
    # per document (measured ~2x on this operator at sf0.1)
    if not hash_prepass:
        spans = bind_once(
            tokens(F.col(text_col)),
            lambda t: F.when(
                F.size(t) - (n - 1) > 0,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: F.array_join(F.slice(t, i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        return (
            docs.select(F.col(id_col).alias("__id"), F.explode(spans).alias("span"))
            .groupBy("span")
            .agg(
                F.count(F.lit(1)).alias("occ"),
                F.countDistinct("__id").alias("ndocs"),
            )
            .filter(F.col("occ") >= min_count)
        )

    hashes = bind_once(
        tokens(F.col(text_col)),
        lambda t: F.when(
            F.size(t) - (n - 1) > 0,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.xxhash64(F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    sites = docs.select(
        F.col(id_col).alias("__id"), F.posexplode(hashes).alias("__pos", "__h")
    )
    # count + filter as ONE window over the hash key: the groupBy +
    # semi-join form re-executes the tokenize+hash explode for the
    # probe branch (no cross-branch exchange reuse — the same measured
    # lesson as the char family); the window shuffles the 24-byte site
    # rows exactly once
    wh = Window.partitionBy("__h")
    matched = (
        sites.withColumn("__occ", F.count(F.lit(1)).over(wh))
        .filter(F.col("__occ") >= min_count)
        .select("__id", "__pos")
    )
    # survivor sites are few -> AQE broadcasts them against the text scan,
    # so the corpus itself is never repartitioned
    with_text = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).join(matched, "__id")
    span_rows = with_text.select(
        "__id",
        F.array_join(
            F.slice(tokens(F.col("__text")), F.col("__pos") + 1, n), " "
        ).alias("span"),
    )
    return (
        span_rows.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.countDistinct("__id").alias("ndocs"),
        )
        .filter(F.col("occ") >= min_count)
    )


def repeated_span_sites(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """(doc, 0-based window position) sites whose n-token window text
    occurs ``min_count``+ times corpus-wide — the shared site relation
    behind interval reporting and span stripping.

    Same hash pre-pass as :func:`repeated_ngram_spans` (the heavy
    exchange carries 64-bit hashes), with the same exactness guarantee:
    hash survivors are recounted on their ACTUAL span text (computed
    only at matched sites), so a collision can only add a candidate that
    the recount then rejects.
    """
    from flink_1_8_sourcecode_spark.operators.text import bind_once

    # bind_once: see repeated_ngram_spans — prevents per-window re-split
    hashes = bind_once(
        tokens(F.col(text_col)),
        lambda t: F.when(
            F.size(t) - (n - 1) > 0,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.xxhash64(F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    sites = docs.select(
        F.col(id_col).alias("__id"), F.posexplode(hashes).alias("__pos", "__h")
    )
    # one window over the hash key (see repeated_ngram_spans): never
    # re-explode the corpus for the probe branch
    wh = Window.partitionBy("__h")
    matched = (
        sites.withColumn("__occ", F.count(F.lit(1)).over(wh))
        .filter(F.col("__occ") >= min_count)
        .select("__id", "__pos")
    )
    with_text = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).join(matched, "__id")
    span_sites = with_text.select(
        "__id",
        "__pos",
        F.array_join(
            F.slice(tokens(F.col("__text")), F.col("__pos") + 1, n), " "
        ).alias("__span"),
    )
    wspan = Window.partitionBy("__span")
    return (
        span_sites.withColumn("__occ", F.count(F.lit(1)).over(wspan))
        .filter(F.col("__occ") >= min_count)
        .select("__id", "__pos")
    )


def repeated_span_intervals(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """MAXIMAL repeated intervals per document — overlapping repeated
    n-token windows merged gaps-and-islands style, the distributed
    stand-in for Lee et al. 2021's suffix-array maximal repeats: any
    repeated substring of L >= n tokens surfaces as L-n+1 overlapping
    windows, and this merges them back into the single [start, end]
    token interval.

    Returns ``(id, start_tok, end_tok, span)`` with 1-based inclusive
    token bounds.  Scale: sites are the (tiny) survivor relation; the
    island window and the interval aggregate share one (doc)-keyed
    exchange; the final text slice joins docs once more (survivor side
    broadcastable).
    """
    sites = repeated_span_sites(docs, id_col, text_col, n=n, min_count=min_count)
    wdoc = Window.partitionBy("__id").orderBy("__pos")
    isl = (
        sites.withColumn("__prev", F.lag("__pos").over(wdoc))
        # same-length sorted intervals: overlap with the previous one
        # iff start diff < n, and the chain's max end grows monotonically,
        # so a lag-based break is exact interval merging
        .withColumn(
            "__new",
            (F.col("__prev").isNull() | (F.col("__pos") - F.col("__prev") >= n)).cast(
                "int"
            ),
        )
        .withColumn("__isl", F.sum("__new").over(wdoc))
    )
    groups = isl.groupBy("__id", "__isl").agg(
        (F.min("__pos") + 1).alias("start_tok"),
        (F.max("__pos") + F.lit(n)).alias("end_tok"),
    )
    return (
        docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .join(groups, "__id")
        .select(
            F.col("__id").alias(id_col),
            "start_tok",
            "end_tok",
            F.array_join(
                F.slice(
                    tokens(F.col("__text")),
                    F.col("start_tok"),
                    F.col("end_tok") - F.col("start_tok") + 1,
                ),
                " ",
            ).alias("span"),
        )
    )


def strip_repeated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_count: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """REMOVE corpus-wide repeated spans from every document (Lee et al.
    2021's dedup action, all-occurrences variant): every token covered
    by any surviving repeated window is dropped, the rest rejoin with
    single spaces.  Whitespace is canonicalized by reconstruction —
    downstream of tokenization that is the working representation.

    Returns ``(id, out_col)`` for EVERY input document (docs with
    nothing to strip pass through with tokens rejoined).  Scale: the
    per-doc removal set comes from the survivor sites (tiny) aggregated
    to one covered-index array per doc; the corpus streams through one
    broadcastable left join + map-only token filter.
    """
    sites = repeated_span_sites(docs, id_col, text_col, n=n, min_count=min_count)
    covered = (
        sites.select(
            "__id", F.explode(F.sequence(F.col("__pos") + 1, F.col("__pos") + n)).alias("__t")
        )
        .distinct()
        .groupBy("__id")
        .agg(F.collect_set("__t").alias("__rm"))
    )
    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    joined = base.join(covered, "__id", "left")
    kept = F.filter(
        F.col("__toks"),
        lambda x, i: ~F.coalesce(
            F.array_contains(F.col("__rm"), i + 1), F.lit(False)
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col), F.array_join(kept, " ").alias(out_col)
    )


def _char_window_sites(
    docs: DataFrame, id_col: str, text_col: str, n: int, min_count: int
) -> DataFrame:
    """(``__id``, ``__pos``, ``__text``) sites whose length-``n`` CHARACTER
    window occurs ``min_count``+ times corpus-wide (``__pos`` 1-based).

    Same two-scan hash pre-pass as :func:`repeated_span_sites`, at char
    granularity: the corpus-wide exchange carries ``xxhash64(substr)``
    (24 B/window, never the substring), survivors semi-join back and the
    caller recounts on actual text, so a 64-bit collision can only add a
    candidate that the recount rejects.
    """
    txt = F.col(text_col)
    # row-explode the window positions and hash with ORDINARY (codegen)
    # expressions: higher-order-function lambdas evaluate interpreted
    # per element, and at ~|text| windows per doc that measured 9x
    # slower than this whole-stage-codegen form at sf0.1
    pos = F.explode(
        F.when(
            F.length(txt) >= n, F.sequence(F.lit(1), F.length(txt) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
    )
    sites = docs.select(
        F.col(id_col).alias("__id"), txt.alias("__t"), pos.alias("__pos")
    ).select(
        "__id",
        "__pos",
        F.xxhash64(F.substring(F.col("__t"), F.col("__pos"), n)).alias("__h"),
    )
    # count + filter as ONE window over the hash partition key: the
    # groupBy + semi-join form re-scans and re-explodes the corpus for
    # the probe side (no exchange reuse across the aggregate/join
    # branches — measured 5.4 s vs 3.0 s at sf0.1); the window form
    # shuffles the 24-byte site rows exactly once
    wh = Window.partitionBy("__h")
    matched = (
        sites.withColumn("__occ", F.count(F.lit(1)).over(wh))
        .filter(F.col("__occ") >= min_count)
        .select("__id", "__pos")
    )
    return docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).join(matched, "__id")


def repeated_char_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication at CHARACTER granularity — Lee et al.
    2021's actual criterion (repeated substrings of >= 50 *characters*,
    not token windows; public paper).  Every length-``n`` char window is
    a candidate; windows occurring ``min_count``+ times corpus-wide are
    reported with total-occurrence and distinct-document counts.

    Catches what :func:`repeated_ngram_spans` (the 10-token
    approximation) misses: a 50+-char repeat made of FEWER than 10
    tokens (long words, URLs, code identifiers) never forms a full
    token window but always forms char windows.

    Returns (span, occ, ndocs), occ >= min_count.

    Scale: identical exchange discipline to the token variant — the
    corpus-wide aggregate carries 64-bit hashes only; span strings
    materialize at surviving sites and the final aggregate recounts on
    text, re-applying ``min_count`` exactly.  Char windows are ~|text|
    per doc (vs ~|tokens| for the token variant) but each exchanged row
    is still 24 bytes; substring construction stays inside the JVM
    transform lambda.  Parity: reference exposes no char-level dedup —
    this extends the training-data north-star set (SURVEY §2.16).
    """
    with_text = _char_window_sites(docs, id_col, text_col, n, min_count)
    span_rows = with_text.select(
        "__id", F.col("__text").substr(F.col("__pos"), F.lit(n)).alias("span")
    )
    return (
        span_rows.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.countDistinct("__id").alias("ndocs"),
        )
        .filter(F.col("occ") >= min_count)
    )


def repeated_char_span_intervals(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """MAXIMAL repeated CHARACTER intervals per document: overlapping
    repeated ``n``-char windows merged gaps-and-islands style — the
    distributed equivalent of Lee et al. 2021's suffix-array output (a
    repeat of L >= n chars surfaces as L-n+1 overlapping windows; this
    merges them back to one [start, end] char interval).

    Returns ``(id, start_char, end_char, span)``, 1-based inclusive
    char bounds.  Scale: survivor recount on actual window text BEFORE
    the island merge (hash collisions cannot fuse unrelated intervals);
    islands + interval aggregate share one doc-keyed exchange over the
    tiny survivor relation; the final slice is computed from the
    ``__text`` already carried with each site (no extra join against
    the corpus).
    """
    with_text = _char_window_sites(docs, id_col, text_col, n, min_count)
    # drop the full text BEFORE the survivor exchanges: the span window
    # and island merge then carry (id, pos, 50-char span) / (id, pos)
    # rows, never whole documents — same discipline as the token
    # variant; the final interval slice joins docs exactly once
    span_rows = with_text.select(
        "__id",
        "__pos",
        F.col("__text").substr(F.col("__pos"), F.lit(n)).alias("__span"),
    )
    wspan = Window.partitionBy("__span")
    sites = (
        span_rows.withColumn("__occ", F.count(F.lit(1)).over(wspan))
        .filter(F.col("__occ") >= min_count)
        .select("__id", "__pos")
    )
    wdoc = Window.partitionBy("__id").orderBy("__pos")
    isl = (
        sites.withColumn("__prev", F.lag("__pos").over(wdoc))
        .withColumn(
            "__new",
            (F.col("__prev").isNull() | (F.col("__pos") - F.col("__prev") >= n)).cast(
                "int"
            ),
        )
        .withColumn("__isl", F.sum("__new").over(wdoc))
    )
    groups = isl.groupBy("__id", "__isl").agg(
        F.min("__pos").alias("start_char"),
        (F.max("__pos") + (n - 1)).alias("end_char"),
    )
    return (
        docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .join(groups, "__id")
        .select(
            F.col("__id").alias(id_col),
            "start_char",
            "end_char",
            F.col("__text")
            .substr(
                F.col("start_char"), F.col("end_char") - F.col("start_char") + 1
            )
            .alias("span"),
        )
    )


def paragraph_dedup_global(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 20,
) -> DataFrame:
    """CORPUS-WIDE paragraph deduplication (CCNet, Wenzek et al. 2019 —
    public paper): every paragraph keeps exactly ONE copy across the
    whole corpus (the occurrence with the smallest (doc id, position)),
    and each document is reconstructed from its surviving paragraphs.
    This is the cross-document counterpart of the within-document
    ``text.dedup_lines`` scrub — the step that removes boilerplate
    repeated ACROSS pages, which no per-document pass can see.

    The corpus here has no newline structure, so a ``chunk_tokens``-
    token window is the deterministic paragraph proxy (same
    granularity trade ``repeated_ngram_spans`` documents).

    Returns (id_col, n_chunks, n_kept, clean_text) — one row per input
    document, including documents whose every paragraph lost (n_kept=0,
    empty text).

    Scale shape (the reason this is not a window over md5(paragraph)):
    the keeper of a paragraph is ``min(struct(doc, pos, text))`` over
    its occurrences, computed with ``groupBy(hash)`` — partial
    aggregation collapses duplicate paragraphs map-side, so a
    boilerplate string repeated 10^9 times ships ONE row per input
    partition instead of 10^9 rows into one reducer (a row_number
    window would do exactly that).  Reconstruction then groups the
    WINNNERS (= distinct paragraphs, the already-deduplicated small
    side) by keeper document — never the raw chunk table.  Total: two
    skew-immune exchanges plus the keep-empty-docs join back.
    """
    from flink_1_8_sourcecode_spark.operators.text import bind_once

    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("long")
    # bind_once: keep the tokenizer from re-running per chunk (Catalyst
    # inlines captured expressions into HOF lambdas)
    chunk_arr = bind_once(
        toks,
        lambda t: F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(F.lit(0), F.ceil(F.size(t) / F.lit(chunk_tokens)).cast("long") - 1),
                lambda i: F.array_join(
                    F.slice(t, i * chunk_tokens + 1, chunk_tokens), " "
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    chunks = docs.select(
        F.col(id_col).alias("__id"), F.posexplode(chunk_arr).alias("__pos", "__chunk")
    )
    winners = (
        chunks.groupBy(F.md5("__chunk").alias("__h"))
        .agg(F.min(F.struct("__id", "__pos", "__chunk")).alias("__w"))
        .select(
            F.col("__w.__id").alias("__id"),
            F.col("__w.__pos").alias("__pos"),
            F.col("__w.__chunk").alias("__chunk"),
        )
    )
    kept = winners.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__chunk"))),
                lambda s: s["__chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = docs.select(F.col(id_col), n_chunks.alias("n_chunks"))
    return (
        base.join(kept, base[id_col] == kept["__id"], "left")
        .select(
            id_col,
            F.coalesce(F.col("n_chunks"), F.lit(0)).alias("n_chunks"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS plagiarism-detection algorithm; public paper): hash every
    k-token gram, slide a ``window``-gram window, keep each window's
    MINIMUM hash; the distinct kept hashes are the document's
    fingerprints.  Guarantee: any shared run of >= window+k-1 tokens
    between two documents produces at least one SHARED fingerprint,
    at ~2/(window+1) density — the local, position-robust alternative
    to MinHash for substring-level overlap detection.

    Documents with fewer than ``window`` grams keep their single
    minimum gram hash (the short-document convention); documents
    shorter than ``k`` tokens emit nothing.

    Returns (id, fp) rows, fingerprints distinct per document.

    Scale shape: entirely MAP-ONLY Column math — no shuffle, no
    Python.  Both the token array and the gram-hash array go through
    ``bind_once`` (text.py): Catalyst inlines captured expressions
    into HOF lambdas, so without the binding the tokenizer re-splits
    per gram and the hash array re-hashes per window (measured 2.4x).
    Gram hashes use the repo-standard engine-portable md5 base so the
    DuckDB oracle reproduces fingerprint VALUES bit-for-bit.
    """
    from flink_1_8_sourcecode_spark.operators.text import bind_once

    def grams_of(t):
        n_grams = F.size(t) - (k - 1)
        return F.when(
            n_grams > 0,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: md5_base28(F.array_join(F.slice(t, i, k), " ")),
            ),
        ).otherwise(F.array().cast("array<long>"))

    def fps_of(g):
        n_win = F.size(g) - (window - 1)
        return (
            F.when(
                n_win > 0,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n_win),
                        lambda j: F.array_min(F.slice(g, j, window)),
                    )
                ),
            )
            .when(F.size(g) > 0, F.array(F.array_min(g)))
            .otherwise(F.array().cast("array<long>"))
        )

    fps = bind_once(
        tokens(F.col(text_col)), lambda t: bind_once(grams_of(t), fps_of)
    )
    return docs.select(F.col(id_col), F.explode(fps).alias("fp"))


def winnowing_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    window: int = 5,
    min_shared: int = 2,
    max_bucket_size: int = 64,
) -> DataFrame:
    """The MOSS match step over :func:`winnowing_fingerprints`:
    candidate pairs (id_a < id_b) with their shared-fingerprint count,
    kept when ``n_shared >= min_shared`` — substring-overlap detection
    (each shared fingerprint witnesses a shared token run) where
    MinHash-LSH detects whole-document set similarity.

    Hot-fingerprint guard, same as ``minhash_lsh_pairs``: a
    boilerplate fingerprint shared by n docs would expand to n^2/2
    pairs inside one join task; fingerprints hitting more than
    ``max_bucket_size`` docs are star-linked to the min-id anchor with
    n_shared = 0 as a sentinel (the transitive closure downstream
    cluster resolution consumes is identical, and the exact shared
    count over a boilerplate hash is meaningless anyway).  Exactly one
    row per pair: a pair reachable via both a hot fingerprint and >=
    min_shared small ones keeps the real count (max-merge).

    Scale: one window over the fingerprint relation (reused exchange
    across both self-join sides), bucket-bounded self-join, one
    partial-aggregated pair count.
    """
    fps = winnowing_fingerprints(docs, id_col, text_col, k=k, window=window)
    wb = Window.partitionBy("fp")
    rows = fps.withColumn("__n", F.count(F.lit(1)).over(wb)).withColumn(
        "__anchor", F.min(id_col).over(wb)
    )
    small = rows.filter(F.col("__n") <= max_bucket_size).select(id_col, "fp")
    a, b = small.alias("a"), small.alias("b")
    small_pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    hot_pairs = (
        rows.filter(
            (F.col("__n") > max_bucket_size) & (F.col(id_col) != F.col("__anchor"))
        )
        .select(F.col("__anchor").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
        .withColumn("n_shared", F.lit(0).cast("long"))
    )
    # one row per pair: a pair sharing BOTH a hot fingerprint (star
    # edge, sentinel 0) and >= min_shared small ones keeps the real
    # count — max() merges the sentinel into it
    return (
        small_pairs.unionByName(hot_pairs)
        .groupBy("id_a", "id_b")
        .agg(F.max("n_shared").alias("n_shared"))
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: classify each NEW-batch document
    against an already-curated frozen corpus without re-deduplicating
    the corpus — the steady-state operation of a continuously-fed
    training corpus (the global passes like ``paragraph_dedup_global``
    run once; this runs per ingest).

    Decision per batch doc (first match wins):
    - ``dup_corpus``: its fingerprint already exists in the corpus;
    - ``dup_batch``:  an earlier (lower-id) batch doc shares it;
    - ``kept``:       first sighting anywhere.

    ``prefix_tokens`` switches the full-document fingerprint
    (:func:`~flink_1_8_sourcecode_spark.operators.text.fingerprint`,
    whitespace/case-normalized md5) to a head fingerprint over the
    first N tokens — the news-wire/template idiom where re-syndicated
    copies share the lede but diverge in the tail.

    Returns ``(id, fp, decision)`` for every batch row.

    Scale shape: the 100 TB corpus reduces to DISTINCT fingerprints
    (column-pruned scan of one string column — or, in production, a
    precomputed fp index table), partial-aggregated map-side; the join
    shuffles fingerprints only, never document bodies; the batch-side
    first-copy rule is a min() aggregate (map-side combinable), not a
    window over the corpus.
    """
    from flink_1_8_sourcecode_spark.operators.text import fingerprint, tokens

    def fp(c: Column) -> Column:
        if prefix_tokens is None:
            return fingerprint(c)
        return F.md5(F.concat_ws(" ", F.slice(tokens(c), 1, prefix_tokens)))

    corpus_fp = (
        corpus.select(fp(F.col(text_col)).alias("fp"))
        .distinct()
        .withColumn("__in_corpus", F.lit(True))
    )
    b = batch.select(F.col(id_col), fp(F.col(text_col)).alias("fp"))
    first = b.groupBy("fp").agg(F.min(id_col).alias("__first_id"))
    return (
        b.join(corpus_fp, "fp", "left")
        .join(first, "fp")
        .select(
            id_col,
            "fp",
            F.when(F.col("__in_corpus"), F.lit("dup_corpus"))
            .when(F.col(id_col) != F.col("__first_id"), F.lit("dup_batch"))
            .otherwise(F.lit("kept"))
            .alias("decision"),
        )
    )


def strip_repeated_char_spans_keep_first(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 50,
    min_count: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Lee et al. 2021's dedup ACTION at char granularity, KEEP-ONE
    variant (the paper keeps a single occurrence of each duplicated
    substring): compute maximal repeated char intervals, elect one
    keeper occurrence per distinct interval text (smallest (doc, start)
    — deterministic), and cut every OTHER occurrence out of its
    document; the keeper document keeps its text for that span.

    Returns ``(id, out_col)`` for every input document.

    Occurrences are grouped by EXACT maximal-interval text: when the
    same underlying repeat extends differently in different documents
    (a shared suffix with one subset, not another), each distinct
    maximal extension elects its own keeper — a deterministic,
    shuffle-friendly approximation of the paper's suffix-array
    clustering that can retain one extra copy per extension variant.

    Scale: intervals are the (tiny) survivor relation; keeper election
    is one window over intervals grouped by span text; the cut is a
    per-doc sorted-interval fold — a JVM `aggregate` HOF over the
    collected removal list (maximal intervals within a doc are disjoint
    by construction, so a single left-to-right fold reconstructs the
    kept text in one pass, no Python, no extra exchange beyond one
    doc-keyed groupBy of interval rows).
    """
    iv = repeated_char_span_intervals(
        docs, id_col, text_col, n=n, min_count=min_count
    )
    wk = Window.partitionBy("span").orderBy(F.col(id_col).asc(), F.col("start_char").asc())
    losers = (
        iv.withColumn("__keep_rank", F.row_number().over(wk))
        .filter(F.col("__keep_rank") > 1)
        .select(
            F.col(id_col).alias("__id"),
            F.struct(
                F.col("start_char").alias("s"), F.col("end_char").alias("e")
            ).alias("__iv"),
        )
    )
    rm = losers.groupBy("__id").agg(F.sort_array(F.collect_list("__iv")).alias("__rm"))
    base = docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    joined = base.join(rm, "__id", "left")
    txt = F.col("__text")
    # fold: carry (next-uncut-position, accumulated-kept-text); each
    # removal interval appends the gap before it and jumps past it
    cut = F.aggregate(
        F.coalesce(F.col("__rm"), F.array().cast("array<struct<s:bigint,e:bigint>>")),
        F.struct(F.lit(1).cast("bigint").alias("pos"), F.lit("").alias("acc")),
        lambda acc, i: F.struct(
            (i["e"] + 1).alias("pos"),
            F.concat(
                acc["acc"], txt.substr(acc["pos"], i["s"] - acc["pos"])
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"], txt.substr(acc["pos"], F.length(txt) - acc["pos"] + 1)
        ),
    )
    return joined.select(F.col("__id").alias(id_col), cut.alias(out_col))


def embedding_ingest_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float,
    nprobe: int = 1,
    broadcast_survivors: bool = True,
) -> DataFrame:
    """STREAMING-SAFE embedding near-dup ingestion gate: drop incoming
    vectors that sit within ``threshold`` cosine of the FROZEN,
    already-curated corpus — the embedding-space twin of
    :func:`incremental_dedup` (text fingerprints) and the similarity
    leg of the live-ingestion pipeline next to ``curate_gate`` and the
    online LSH dedup.

    With ``nprobe=1`` (the default and the ingestion trade) every step
    is stateless, so the identical plan runs on a batch frame and a
    live stream (no stateful operator, no watermark); ``nprobe > 1``
    needs a per-id collapse aggregation and is batch-only (streaming
    callers get a loud NotImplementedError):

    1. the corpus's per-``cluster_col`` centroids (k x d doubles —
       k-means cells or any partition of the index) are computed ONCE,
       collected, and folded into the plan as literals;
    2. each incoming vector is assigned its ``nprobe`` nearest cells by
       centroid cosine — a per-row sort of k scores, map-only (the IVF
       probe step; ties break to the smaller cluster id);
    3. ONE stream-static LEFT ANTI join against the corpus on the cell
       with the cosine threshold as join predicate — survivors are
       rows with NO corpus vector at >= threshold in any probed cell.

    Scale shape: the candidate join is equi on the cell, so the corpus
    side prunes to nprobe/k of the index per row (the IVF contract) and
    the static side can be bucketed by cell for a shuffle-free probe;
    nothing aggregates per incoming row, so state at ingestion is zero.
    The ``nprobe > 1`` finale semi-joins the incoming batch against its
    surviving ids — broadcast by default (right for bounded ingestion
    batches); a whole-corpus re-dedup whose survivor set exceeds the
    broadcast budget should pass ``broadcast_survivors=False`` to keep
    that join a plain shuffle semi on the id.
    The per-row probe arithmetic is interpreted HOF eval over k x d
    literals — the statelessness trade, same stance as
    ``pipeline.curate_gate``; batch re-indexing uses the vectorized
    GEMM kernels in operators/similarity.py.

    Returns the surviving incoming rows (original columns) plus
    ``__probe_cells`` dropped — output schema == input schema.
    """
    cent_rows = (
        corpus.select(
            F.col(cluster_col).alias("__cl"),
            F.posexplode(F.col(vec_col)).alias("__i", "__x"),
        )
        .groupBy("__cl", "__i")
        .agg(F.avg("__x").alias("__m"))
        .groupBy("__cl")
        .agg(
            F.array_sort(F.collect_list(F.struct("__i", "__m"))).alias("__s")
        )
        .select("__cl", F.transform("__s", lambda s: s["__m"]).alias("__c"))
        .collect()
    )
    if not cent_rows:
        return incoming  # empty index: nothing can be a duplicate
    import math

    cents = [
        (r["__cl"], list(r["__c"]), math.sqrt(sum(x * x for x in r["__c"])))
        for r in cent_rows
    ]

    # double-precision arithmetic regardless of the stored element type
    # (array<float> corpora): keeps the scores engine-portable
    vec = F.col(vec_col).cast("array<double>")
    vnorm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))

    def dot_lit(c):
        arr = F.array(*[F.lit(float(x)) for x in c])
        return F.aggregate(
            F.zip_with(vec, arr, lambda a, b: a * b), F.lit(0.0),
            lambda a, x: a + x,
        )

    # (-(cosine), cluster) ascending == cosine desc, cluster asc on ties
    scores = F.array(
        *[
            F.struct(
                (-(dot_lit(c) / (vnorm * F.lit(n)))).alias("ns"),
                F.lit(cl).alias("c"),
            )
            for cl, c, n in cents
        ]
    )
    n_cells = min(nprobe, len(cents))
    cor = corpus.select(
        F.col(cluster_col).alias("__cor_cl"),
        F.col(vec_col).cast("array<double>").alias("__cor_v"),
    )
    cv = F.col("__cor_v")
    pair_cos = F.aggregate(
        F.zip_with(vec, cv, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    ) / (
        vnorm
        * F.sqrt(F.aggregate(cv, F.lit(0.0), lambda a, x: a + x * x))
    )

    if n_cells == 1:
        # the streaming path: one cell per row (argmax centroid — no
        # explode), one equi anti-join.  Zero state, zero aggregation.
        probed = incoming.withColumn(
            "__probe_cell", F.element_at(F.array_sort(scores), 1)["c"]
        )
        return probed.join(
            cor,
            (probed["__probe_cell"] == cor["__cor_cl"])
            & (pair_cos >= F.lit(threshold)),
            "left_anti",
        ).drop("__probe_cell")

    if incoming.isStreaming:
        # the multi-cell collapse below needs a per-id aggregation —
        # stateful on a stream.  Probing more cells buys recall the
        # batch re-index pass can supply; refuse loudly.
        raise NotImplementedError(
            "embedding_ingest_dedup: nprobe > 1 on a streaming frame "
            "needs a per-id aggregation (stateful); use nprobe=1 at "
            "ingestion and run the batch pass for higher recall"
        )
    # batch nprobe > 1: explode into probe cells, anti-join, then keep
    # only ids whose EVERY exploded copy survived (a dup matches in at
    # least one probed cell, dropping that copy)
    probed = incoming.withColumn(
        "__probe_cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(scores), 1, n_cells), lambda s: s["c"]
            )
        ),
    )
    survivors = probed.join(
        cor,
        (probed["__probe_cell"] == cor["__cor_cl"])
        & (pair_cos >= F.lit(threshold)),
        "left_anti",
    ).drop("__probe_cell")
    keep_ids = (
        survivors.groupBy(F.col(id_col).alias("__kid"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == n_cells)
        .select("__kid")
    )
    build = F.broadcast(keep_ids) if broadcast_survivors else keep_ids
    return incoming.join(
        build, incoming[id_col] == keep_ids["__kid"], "left_semi"
    )
