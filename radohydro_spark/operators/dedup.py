"""Deduplication operators for training-data pipelines.

Five dedup families, all DataFrame-native and shuffle-aware:

* exact           — md5 hash-groupBy (one shuffle on a 32-char key)
* n-gram Jaccard  — shingle self-join: candidates bounded by shared-shingle
                    selectivity, exact Jaccard on candidates
* MinHash + LSH   — signatures via (a*x+b) mod p over portable shingle
                    hashes; banding turns the pair join into an equi-join on
                    band keys (the 100 TB scale path: no O(n²) anywhere)
* SimHash         — 16-bit sign-of-weighted-bit-sums fingerprint; near-dup
                    candidates join on equal fingerprint
* embedding cosine— banded hyperplane-LSH candidates + exact cosine filter
                    (embedding_near_dups_lsh, the scale path) with the
                    brute-force O(n²) twin kept as the small-n cross-check

Every step uses functions.text.portable_hash so the DuckDB oracle can
reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from radohydro_spark.functions.text import (
    HASH_MOD,
    gram_array,
    portable_hash,
    tokens,
)
from radohydro_spark.plans.contracts import ranged_cumsum

# fixed affine-hash parameters: h_i(x) = (A_i * x + B_i) mod p.  Small
# primes chosen once; the oracle embeds the same constants.
MINHASH_A = [2971, 4111, 5669, 7919, 9973, 11939, 14033, 16127]
MINHASH_B = [1543, 3079, 6151, 12289, 24593, 49157, 98317, 196613]


def shingle_array(text_col: str, k: int):
    """The distinct-k-word-shingle set of a text column as ONE ARRAY
    Column — the SET form of :func:`functions.text.gram_array` (the
    single home of the tokenize/slide law).  :func:`word_shingles`
    explodes this array (the relational form the frequency/prefix
    operators join on); :func:`sorted_neighborhood_pairs` hashes it
    un-exploded (its verify joins per-pair arrays, never the exploded
    relation).  Sharing the expression means the forms cannot drift."""
    # array_distinct makes (doc, shingle) unique BEFORE any explode — no
    # distinct() downstream, which would cost a full extra shuffle
    return F.array_remove(F.array_distinct(gram_array(text_col, k)), "")


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, with_count: bool = False
) -> DataFrame:
    """Distinct k-word shingles per document, exploded long (the
    relational form of :func:`shingle_array`).

    ``with_count=True`` attaches ``n_sh`` (the document's distinct-shingle
    count) to every exploded row — computed from the array BEFORE the
    explode, so consumers that need per-doc sizes (Jaccard denominators)
    get them with ZERO extra shuffle instead of a groupBy + back-join.
    """
    arr = shingle_array(text_col, k)
    base = df.select(F.col(id_col).alias("doc_id"), arr.alias("_sh"))
    if with_count:
        base = base.withColumn("n_sh", F.size("_sh"))
        return base.select("doc_id", "n_sh", F.explode("_sh").alias("shingle"))
    return base.select("doc_id", F.explode("_sh").alias("shingle"))


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup groups: md5(text) groupBy, keep lowest id as canonical.

    Returns (text_hash, keep_id, n_copies) for groups with n_copies > 1.
    Single hash-shuffle on the digest; at 100 TB this is the cheapest
    possible exact dedup (no text comparison after the hash)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (lowest id) per distinct text."""
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shared-shingle candidates.

    |A∩B| from the shingle equi-join, |A∪B| = |A|+|B|-|A∩B|.  The join
    shuffles on the shingle value — skew-prone on stop-shingles.

    ``max_doc_freq`` is the scale guard: shingles occurring in more than
    that many documents are dropped *before* the self-join (a shingle in f
    docs contributes f² candidate pairs, so one hot stop-shingle at corpus
    scale dwarfs everything else).  **ON by default (1000)** — the skew
    cliff is the default failure mode at corpus scale, so the safe plan is
    the default plan; a dropped shingle shifts |A∩B|/|A∪B| only for pairs
    that share a stop-shingle seen in >1000 docs, which Jaccard treats as
    near-zero-information anyway.  Pass ``None`` explicitly when bit-exact
    textbook Jaccard is required (the driver's exact-oracle query does), or
    use MinHash banding below, which has no quadratic term at all.

    The self-join runs on ``xxhash64(shingle)`` rather than the shingle
    string: a fixed 8-byte shuffle key instead of a variable-length one
    (~2× faster here, and the shuffle-byte win grows with shingle length).
    A 64-bit collision would merge two shingles (P ≈ n²/2⁶⁴ ≈ 1e-8 at a
    million distinct shingles) — acceptable for a near-dup *candidate*
    metric that MinHash approximates anyway.

    Denominators |A| and |B| ride along on the shingle rows themselves
    (``word_shingles(with_count=True)`` computes them from the pre-explode
    array): the pair aggregate reads them with ``first()``, eliminating
    the per-doc sizes aggregation and its two back-joins — the whole
    operator is the self-join plus ONE pair-key shuffle.
    """
    sh = word_shingles(df, text_col, id_col, k, with_count=True).select(
        "doc_id", "n_sh", F.xxhash64("shingle").alias("sid")
    )
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sid")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("sid")
        )
        sh = sh.join(F.broadcast(hot), "sid", "left_anti")
    # cache: the self-join consumes sh twice and the tokenize+shingle
    # projection is the expensive part of this operator
    sh = sh.cache()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(sh)
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.sid") == F.col("b.sid")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first(F.col("a.n_sh")).alias("_na"),
            F.first(F.col("b.n_sh")).alias("_nb"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures_wide(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 8, k: int = 3
) -> DataFrame:
    """MinHash signature matrix, wide form (doc_id, sig_0 .. sig_{n-1}).

    sig_i(doc) = min over shingles of (A_i * portable_hash(shingle) + B_i)
    mod p.  ONE groupBy(doc_id) with n_hashes conditional-min aggregates —
    the shuffle moves one row per (doc, shingle), not n_hashes of them, and
    map-side partials collapse each task's shingles to one row per doc
    before any network transfer.  Linear in corpus size."""
    assert n_hashes <= len(MINHASH_A)
    sh = word_shingles(df, text_col, id_col, k)
    sh = sh.withColumn("x", portable_hash("shingle"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("x") + F.lit(MINHASH_B[i])) % HASH_MOD
            ).alias(f"sig_{i}")
            for i in range(n_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 8, k: int = 3
) -> DataFrame:
    """MinHash signature matrix, long form (doc_id, h_idx, sig) — the wide
    aggregate unpivoted with a zero-shuffle inline explode."""
    wide = minhash_signatures_wide(df, text_col, id_col, n_hashes, k)
    hs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("h_idx"), F.col(f"sig_{i}").alias("sig")
                )
                for i in range(n_hashes)
            ]
        )
    ).alias("h")
    return wide.select("doc_id", hs).select("doc_id", "h.h_idx", "h.sig")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    k: int = 3,
    rows_per_band: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding, with estimated Jaccard
    (fraction of matching signature rows) attached.

    Plan shape (scale-critical): ONE shuffle builds the wide signature row
    per doc; band keys and the signature array are then derived columns —
    no re-aggregation.  Candidates come from the (band, band_key) equi-join
    on the exploded band table; est-Jaccard compares the two docs' signature
    *arrays* element-wise (``zip_with``), so the scoring joins move one row
    per doc instead of one per (doc, hash)."""
    assert n_hashes % rows_per_band == 0
    wide = minhash_signatures_wide(df, text_col, id_col, n_hashes, k).cache()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(wide)
    n_bands = n_hashes // rows_per_band
    band_structs = _band_structs(n_hashes, rows_per_band)
    banded = wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band", "b.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(n_hashes)])
    arrs = wide.select("doc_id", sig_arr.alias("sig_arr"))
    est = (
        cand.join(arrs.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sig_arr", "arr_a"), "id_a")
        .join(arrs.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sig_arr", "arr_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "arr_a", "arr_b", lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / F.lit(float(n_hashes)),
                6,
            ).alias("est_jaccard"),
        )
    )
    return est


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint: bit_j = 1 iff Σ_tokens (2*bit_j(h(tok)) - 1) > 0.

    Computed with array expressions over distinct tokens — no UDF, no
    shuffle beyond the token explode's groupBy."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    toks = toks.withColumn("h", portable_hash("tok"))
    per_bit = toks.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bit"),
                        (
                            (F.shiftright(F.col("h"), j) % 2) * 2 - 1
                        ).alias("contrib"),
                    )
                    for j in range(bits)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.bit", "b.contrib")
    bit_signs = per_bit.groupBy("doc_id", "bit").agg(
        (F.sum("contrib") > 0).cast("long").alias("bit_val")
    )
    return bit_signs.groupBy("doc_id").agg(
        F.sum(F.col("bit_val") * F.pow(F.lit(2.0), F.col("bit")).cast("long")).alias("simhash")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (brute force O(n²) — correct
    baseline; LSH bucketing in similarity.py is the scale path)."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (norm(F.col("va")) * norm(F.col("vb"))), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dups_lsh(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    n_planes: int = 4,
    n_bands: int = 2,
    n_dims: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded hyperplane-LSH candidates
    + exact cosine filter — the 100 TB scale path (brute force above is the
    small-n cross-check).

    Plan shape: each vector gets ``n_bands`` independent bucket ids
    (band b hashes with planes [b*n_planes, (b+1)*n_planes)); candidates
    come from the (band, bucket) **equi-join** — hash-partitioned, never
    all-pairs — then the exact cosine runs only on candidates, with each
    doc's array moving once via the two id-joins (minhash_lsh_pairs
    pattern).  A pair is a candidate iff it collides in >= 1 band; recall
    grows with n_bands at linear candidate cost.  Deterministic planes
    (portable md5 stream) => the DuckDB oracle embeds identical constants
    and reproduces the result set exactly.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    """
    from radohydro_spark.operators.similarity import cosine, lsh_bucket

    if n_dims is None:
        raise ValueError(
            "embedding_near_dups_lsh requires n_dims (the embedding "
            "dimensionality): the hyperplane components fold into the "
            "bucket expression as literals, so the width must be static"
        )

    e = embeddings.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"))
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            lsh_bucket(
                "v", n_planes, n_dims, plane_offset=b * n_planes
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    banded = e.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return (
        cand.join(e.select(F.col("doc_id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(e.select(F.col("doc_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cosine", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing >=
    ``min_shared`` distinct k-word shingles with ANY benchmark document.

    The pre-training hygiene pass that keeps eval sets out of the training
    corpus.  Plan shape: the benchmark's distinct shingle-hash set is
    dimension-sized (eval suites are small) → ``broadcast`` semi-join
    against the corpus shingles, then one groupBy(doc) count — the corpus
    side streams through map-side, no corpus-sized shuffle key explosion.

    Returns (doc_id, n_shared) for flagged docs only.
    """
    c_sh = word_shingles(corpus, text_col, id_col, k).select(
        "doc_id", F.xxhash64("shingle").alias("sid")
    )
    b_sh = (
        word_shingles(benchmark, text_col, id_col, k)
        .select(F.xxhash64("shingle").alias("sid"))
        .distinct()
    )
    hits = c_sh.join(F.broadcast(b_sh), "sid", "left_semi")
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    n_bands: int = 2,
    max_hamming: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    Pigeonhole banding: split the ``bits``-bit fingerprint into ``n_bands``
    contiguous slices; any pair within Hamming distance < n_bands shares at
    least one identical slice, so candidates come from an equi-join on
    (band index, slice value) — never an all-pairs comparison.  Exact
    ``bit_count(xor)`` then filters candidates to ``<= max_hamming``
    (requires ``max_hamming < n_bands`` for completeness).

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    assert bits % n_bands == 0 and max_hamming < n_bands
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sims = simhash(df, text_col, id_col, bits).cache()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(sims)
    banded = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("simhash"), b * band_bits)
                            % F.lit(mask + 1)
                        ).alias("slice"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.slice")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping, within each
    cluster, every item whose cosine to a LOWER-ID cluster member reaches
    the threshold — the keep-one-representative policy that removes
    paraphrase-level duplicates exact/MinHash dedup cannot see.

    Plan shape: centroids are the first ``n_clusters`` vectors by id
    (deterministic — the oracle reproduces the identical partitioning;
    swap in similarity.ivf_train's Lloyd refinement for production
    recall), assignment is one broadcast argmax-cosine, and the pair
    stage self-joins ONLY within a cluster (equi-join on centroid_id) —
    never the corpus-wide cross product.  Work is O(Σ cluster²), the
    published method's own cost; at 100 TB the within-cluster stage
    composes with the banded-LSH candidate generator
    (embedding_near_dup_pairs) the same way SemDeDup implementations
    shard FAISS clusters.  Cosines are rounded to 6 decimals BEFORE the
    threshold compare so an ulp of engine difference cannot flip a
    keep/drop decision.

    Returns the SURVIVORS (one row per kept vector: id, cluster id).
    """
    from radohydro_spark.operators.similarity import cosine, ivf_assign

    from pyspark import StorageLevel

    from radohydro_spark.plans.pipeline import _PERSISTED

    centroids = (
        corpus.orderBy(id_col)
        .limit(n_clusters)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col))
    )
    # the assignment feeds BOTH pair sides and the final anti-join: persist
    # it, or the plan recomputes the corpus scan + broadcast argmax three
    # times (registered with the session-wide release_persisted() pool)
    assigned = ivf_assign(corpus, centroids, vec_col, id_col).join(
        corpus, id_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(assigned)
    a = assigned.select(
        "centroid_id",
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_va"),
    )
    b = assigned.select(
        "centroid_id",
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_vb"),
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .withColumn("_cos", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("_cos") >= F.lit(float(threshold)))
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, "centroid_id"
    )


def _band_structs(n_hashes: int, rows_per_band: int, sig_arr: str | None = None):
    """THE band-key law, in one place (r12 review: it had drifted into
    four per-call-site copies — the gram_array lesson): band ``bi``'s key
    is the ``rows_per_band`` signature components of that band,
    stringified and '_'-joined.  ``sig_arr=None`` reads the wide
    ``sig_N`` columns (the build/update path); a column name reads
    components from that signature ARRAY via element_at (the probe
    path).  Identical strings either way, so index writes and probes
    cannot desynchronize."""
    n_bands = n_hashes // rows_per_band

    def comp(bi: int, j: int):
        if sig_arr is None:
            return F.col(f"sig_{bi * rows_per_band + j}").cast("string")
        return F.element_at(sig_arr, bi * rows_per_band + j + 1).cast("string")

    return [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                "_", *[comp(bi, j) for j in range(rows_per_band)]
            ).alias("band_key"),
        )
        for bi in range(n_bands)
    ]


def _validate_index_geometry(
    spark, path: str, sigs: DataFrame, n_hashes: int, rows_per_band: int, caller: str
) -> None:
    """Fail loudly when the caller's hash geometry disagrees with the
    persisted index artifacts (the params are arguments, not persisted):
    one signature row pins ``n_hashes``; the ``band=`` partition listing
    (driver-side FS list, O(n_bands)) pins the band count.  Used by BOTH
    update (a mismatched append corrupts the index) and probe (r12
    review: a mismatched probe silently collapsed every band key to ''
    — concat_ws SKIPS the nulls element_at returns past the array end —
    bucketing the whole corpus together)."""
    n_bands = n_hashes // rows_per_band
    one = sigs.select(F.size("sig_arr").alias("n")).first()
    if one is not None and one["n"] != n_hashes:
        raise ValueError(
            f"{caller}: index at {path} holds length-{one['n']} "
            f"signatures but was called with n_hashes={n_hashes} — pass "
            "the build-time parameters (or rebuild)"
        )
    bands_path = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/bands")
    fs = bands_path.getFileSystem(spark._jsc.hadoopConfiguration())
    built_bands = sorted(
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(bands_path)
        if st.isDirectory() and st.getPath().getName().startswith("band=")
    )
    if built_bands != list(range(n_bands)):
        raise ValueError(
            f"{caller}: index at {path} has band partitions "
            f"{built_bands} but n_hashes={n_hashes} / rows_per_band="
            f"{rows_per_band} implies bands 0..{n_bands - 1} — pass the "
            "build-time parameters (or rebuild)"
        )


def build_lsh_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    k: int = 3,
    rows_per_band: int = 2,
) -> None:
    """Persist a MinHash-LSH near-dup index — the text-dedup twin of
    similarity.build_ivf_index's build-once/probe-many lifecycle.  An
    ingestion pipeline that near-dedups every incoming batch against the
    accumulated corpus must not re-shingle and re-sign the corpus per
    batch; the signatures and band keys are write-once artifacts.

    Layout: ``bands/`` parquet PARTITIONED BY band (each of the
    ``n_hashes / rows_per_band`` bands is one partition — a probe for a
    single band reads only that directory) and, within each band,
    sortWithinPartitions(band_key) so parquet row-group min/max stats
    prune non-matching key ranges at scan time; ``signatures/`` holds
    one signature ARRAY row per doc for the est-Jaccard rerank; hash
    parameters are NOT persisted — they are module constants
    (MINHASH_A/B, HASH_MOD), so index and probe cannot disagree."""
    # same banding contract as minhash_lsh_pairs: a non-divisible
    # rows_per_band would silently drop the trailing signature hashes
    # from banding (recall loss) and diverge from the in-memory operator
    # this index is pinned to reproduce
    assert n_hashes % rows_per_band == 0
    wide = minhash_signatures_wide(df, text_col, id_col, n_hashes, k).cache()
    n_bands = n_hashes // rows_per_band
    band_structs = _band_structs(n_hashes, rows_per_band)
    banded = wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band", "b.band_key")
    # RANGE-partition on (band, band_key), not repartition("band") (r17,
    # guide §2.5): n_bands distinct values hashed into n_bands partitions
    # serialized the whole index write onto n_bands tasks at ANY corpus
    # size.  Range partitioning keeps full write parallelism, each file
    # covers a disjoint band_key range (file- AND row-group-level
    # pruning at probe time), and the (band, band_key) sort both feeds
    # the partitionBy writer in partition-column order (no inserted
    # sort) and preserves the within-file band_key ordering the probe's
    # row-group stats rely on.
    (
        banded.repartitionByRange("band", "band_key")
        .sortWithinPartitions("band", "band_key")
        .write.mode("errorifexists")
        .partitionBy("band")
        .parquet(f"{path}/bands")
    )
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(n_hashes)])
    wide.select("doc_id", sig_arr.alias("sig_arr")).write.mode(
        "errorifexists"
    ).parquet(f"{path}/signatures")
    # keep the signature cache alive in the session-wide pool (instead of
    # unpersisting here): the cache manager matches it by logical plan,
    # so a rebuild over the same corpus — the bench/iterate loop — skips
    # the md5-heavy signature aggregation entirely.  O(n_docs × 9 longs);
    # released by plans.pipeline.release_persisted()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(wide)


def update_lsh_index(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    k: int = 3,
    rows_per_band: int = 2,
) -> None:
    """Incrementally fold a NEW document batch into a persisted LSH index
    (:func:`build_lsh_index` layout) — the index-maintenance half of the
    build-once/probe-many lifecycle.  An ingestion pipeline appends every
    accepted batch here; rebuilding the whole index per batch re-signs
    the accumulated corpus (the exact cost the index exists to avoid).

    Only the NEW batch is shingled and signed (batch-sized work, the
    corpus is never read back for signing); its band rows append as new
    parquet files under the existing ``band=N`` partition directories
    (sorted within partitions, so the new row-groups carry their own
    band_key min/max pruning stats — append never rewrites old files),
    and its signature rows append to ``signatures``.  Because the hash
    family is module constants, an updated index is probe-identical to
    an index built from the union corpus in one shot (pinned by the
    ``dedup_lsh_index_update`` driver query and test_dedup.py).

    CONTRACT: the id is the content key (as in :func:`query_lsh_index`),
    so batch ids must be NEW — an id already present in ``signatures``
    would leave two contradictory signature rows.  Checked with one
    batch-sized semi-join count against the signatures read (the same
    dimension-sized-action contract as the probe's emptiness check);
    fails loudly rather than corrupting the index.  The hash GEOMETRY
    (``n_hashes``, ``rows_per_band``) is likewise validated against the
    existing artifacts — the params are arguments, not persisted, so an
    update signed with a different geometry would otherwise silently
    corrupt the index (mixed-length ``sig_arr`` rows, extra ``band=N``
    partitions probes never read).  One signature row pins ``n_hashes``;
    the ``band=`` partition-directory listing (a driver-side FS list,
    O(n_bands)) pins the band count.
    """
    assert n_hashes % rows_per_band == 0  # build_lsh_index's contract
    sigs = spark.read.parquet(f"{path}/signatures")
    _validate_index_geometry(
        spark, path, sigs, n_hashes, rows_per_band, "update_lsh_index"
    )
    # ONE batch-sized aggregate answers both id contracts: ids must be
    # new to the index AND unique within the batch (an intra-batch
    # collision — a retried ingestion message — would otherwise merge two
    # texts' shingle minima into one fabricated signature, r12 review)
    counts = new_docs.select(F.col(id_col).alias("doc_id")).agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("nd")
    ).first()
    if counts["n"] != counts["nd"]:
        raise ValueError(
            f"update_lsh_index: {counts['n'] - counts['nd']} duplicate "
            "id(s) WITHIN the batch — ids are content keys; deduplicate "
            "the batch before folding it in"
        )
    n_dup = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(sigs, "doc_id", "left_semi")
        .count()
    )
    if n_dup:
        raise ValueError(
            f"update_lsh_index: {n_dup} batch id(s) already indexed at "
            f"{path} — ids are content keys; re-ingesting changed text "
            "needs a fresh id (or rebuild the index)"
        )
    wide = minhash_signatures_wide(new_docs, text_col, id_col, n_hashes, k).cache()
    band_structs = _band_structs(n_hashes, rows_per_band)
    banded = wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band", "b.band_key")
    # same range-partitioned parallel write as build_lsh_index (r17)
    (
        banded.repartitionByRange("band", "band_key")
        .sortWithinPartitions("band", "band_key")
        .write.mode("append")
        .partitionBy("band")
        .parquet(f"{path}/bands")
    )
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(n_hashes)])
    wide.select("doc_id", sig_arr.alias("sig_arr")).write.mode("append").parquet(
        f"{path}/signatures"
    )
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(wide)


def query_lsh_index(
    spark,
    path: str,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    k: int = 3,
    rows_per_band: int = 2,
) -> DataFrame:
    """Probe a persisted LSH index: sign the (small) query batch with the
    same module-constant hash family, equi-join its band keys against the
    persisted ``bands`` table, and est-Jaccard-rerank the candidates
    against the persisted ``signatures``.

    Returns ``(id_a, id_b, est_jaccard)`` with ``id_a`` the query doc and
    ``id_b`` the matched corpus doc (self-matches where the query IS a
    corpus doc are dropped; a pair that is query-on-both-sides appears
    once, lower id first — so probing with the corpus itself reproduces
    :func:`minhash_lsh_pairs` exactly, the round-trip-loses-nothing pin).

    The index IS the signature cache: probe rows whose id exists in the
    persisted ``signatures`` table reuse the stored arrays — no
    re-shingle, no md5 — and their band keys derive from the array by
    ``element_at``; only ids the index has never seen get the full
    MinHash pass.  (The id is the content key, as in any index: pass a
    fresh id for changed text.)  Probing the corpus against itself — the
    re-dedup-after-append shape — therefore does ZERO signature
    recomputation (measured 3.3s → ~0 at sf0.1, the md5 portable hash
    being the dominant cost).

    Scale shape: the corpus-side work is a pure read — band partitions
    narrow the scan to probed bands, row-group stats on the sorted
    band_key narrow it further; the only shuffle is the candidate
    equi-join keyed on (band, band_key), and the rerank joins the
    signature arrays, one row per doc — the probe side against the
    (probe-batch-sized) ``q_sigs``, the corpus side against the persisted
    ``signatures`` read, with the ``id_a < id_b`` canonicalisation applied
    AFTER the joins so no corpus-wide dedup exchange is needed."""
    assert n_hashes % rows_per_band == 0  # same contract as build_lsh_index
    sigs = spark.read.parquet(f"{path}/signatures")
    # a probe with the wrong geometry would SILENTLY collapse band keys
    # (element_at past the array end is null, concat_ws skips nulls) and
    # bucket the whole corpus together — validate like update does (r12)
    _validate_index_geometry(
        spark, path, sigs, n_hashes, rows_per_band, "query_lsh_index"
    )
    probe_ids = queries.select(F.col(id_col).alias("doc_id"))
    known = sigs.join(probe_ids, "doc_id", "left_semi")
    fresh_docs = queries.join(
        sigs, queries[id_col] == sigs["doc_id"], "left_anti"
    )
    # cheap driver-side emptiness probe (one anti-join job, the same
    # dimension-sized-action contract as IVF's probed-centroid collect):
    # when every probe id is already indexed — the re-dedup-after-append
    # shape — the whole MinHash subplan is dropped from the final plan,
    # which otherwise costs ~3s of whole-stage-codegen compilation even
    # with zero rows flowing through it
    if fresh_docs.isEmpty():
        q_sigs = known.cache()
    else:
        fresh_wide = minhash_signatures_wide(
            fresh_docs, text_col, id_col, n_hashes, k
        )
        fresh = fresh_wide.select(
            "doc_id",
            F.array(
                *[F.col(f"sig_{i}") for i in range(n_hashes)]
            ).alias("sig_arr"),
        )
        q_sigs = known.unionByName(fresh).cache()
    # register the probe-batch cache in the session-wide pool so
    # release_persisted() frees it — a probe-per-batch ingestion loop must
    # not leak one cached frame per probe until LRU eviction
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(q_sigs)
    n_bands = n_hashes // rows_per_band
    band_structs = _band_structs(n_hashes, rows_per_band, sig_arr="sig_arr")
    q_banded = q_sigs.select(
        F.col("doc_id").alias("_qid"), F.explode(F.array(*band_structs)).alias("b")
    ).select("_qid", "b.band", "b.band_key")
    bands = spark.read.parquet(f"{path}/bands")
    # canonicalise candidates up front (a query-on-both-sides pair — the
    # corpus-self-probe shape — otherwise survives in BOTH orientations
    # and doubles every downstream join), then resolve each side's
    # signature by probing the probe-batch-sized q_sigs first and falling
    # back to the persisted corpus scan: q_sigs.known is read FROM sigs,
    # so the coalesce is consistent, and no corpus-wide
    # union+dropDuplicates exchange is ever built (the r9 form
    # deduplicated the full signature table on every probe).
    cand = (
        q_banded.join(bands, ["band", "band_key"])
        .filter(F.col("_qid") != F.col("doc_id"))
        .select(
            F.least("_qid", "doc_id").alias("id_a"),
            F.greatest("_qid", "doc_id").alias("id_b"),
        )
        .distinct()
    )

    def _side(side: str) -> DataFrame:
        q = q_sigs.select(
            F.col("doc_id").alias(side), F.col("sig_arr").alias(f"_q_{side}")
        )
        c = sigs.select(
            F.col("doc_id").alias(side), F.col("sig_arr").alias(f"_c_{side}")
        )
        return q, c

    qa, ca = _side("id_a")
    qb, cb = _side("id_b")
    est = (
        cand.join(qa, "id_a", "left")
        .join(ca, "id_a", "left")
        .withColumn("arr_a", F.coalesce("_q_id_a", "_c_id_a"))
        .join(qb, "id_b", "left")
        .join(cb, "id_b", "left")
        .withColumn("arr_b", F.coalesce("_q_id_b", "_c_id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "arr_a", "arr_b", lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / F.lit(float(n_hashes)),
                6,
            ).alias("est_jaccard"),
        )
    )
    return est


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    idf_scale: int = 1000,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs — the bag-of-words VECTOR
    complement of the set-based Jaccard/containment operators: two
    documents that share *weighted vocabulary* (rare terms count more)
    score high even when shingle order differs everywhere, the classic
    near-dup signal templated boilerplate defeats and topical duplication
    produces.  Sparse dot product as a relational join — no dense
    vectors, no vocabulary collect, no UDF.

    Integer-exact cross-engine arithmetic (the cents discipline): the
    IDF weight quantizes once — ``iw = round(ln((N+1)/(df+1)) · idf_scale)``
    as BIGINT (ln of identical doubles is deterministic cross-engine;
    SUMS of floats are not) — so component weights ``w = tf·iw``, dot
    products ``Σ w_a·w_b`` and squared norms ``Σ w²`` are all exact
    BIGINT sums.  The quantize-after-``ln`` boundary risk (the BM25
    seam class) is AUDITED, not assumed:
    :func:`tfidf_idf_boundary_margin` measures the distance of every
    distinct-df idf point from its rounding boundary; tests pin it
    > 1e-6 on the driver corpora (≫ the ~1e-12 1-ulp perturbation).  Floats reappear only in the final
    ``dot / (sqrt(na)·sqrt(nb))``: three correctly-rounded IEEE ops on
    exactly-representable integers (|Σw²| stays < 2^53 for corpus-scale
    tf/df profiles), identical in both engines.

    Plan shape: one explode → (doc, term) tf aggregation; df(t) reuses
    the tf table; ``max_doc_freq`` drops hot terms from the vector space
    BEFORE the self-join (same cliff guard as the shingle ops — stopword
    posting lists otherwise quadratically dominate the candidate join,
    and their idf ≈ 0 contributes nothing to cosine anyway; the guard is
    part of the operator's semantics and the oracle reproduces it).  The
    term self-join emits one row per shared term per pair, reduced by ONE
    pair-key shuffle; norms join back on the id dimension.  For corpora
    where even guarded posting lists explode, the banded MinHash-LSH
    index is the scale path, as with the other exact-scoring operators.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # the tf relation feeds FOUR consumers (df(t), the norms aggregate,
    # and both sides of the term self-join).  r16 cached it (the plan
    # audit counted 48 parquet scans); the r17 cold A/B (every repetition
    # pays the cache fill) reverted that: persist-on 2.558 s vs
    # persist-off 2.038 s (ratio 1.25) — all four consumers sit in ONE
    # plan, so the tf aggregate's exchange is computed once and reused
    # (ReusedExchange/AQE), and the columnar cache fill+read only adds
    # cost.  r16 itself measured the cache wall-neutral warm; priced
    # cold it is a 25% regression.
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_doc_freq is not None:
        dfreq = dfreq.filter(F.col("df") <= max_doc_freq)
    n_docs = df.agg(F.countDistinct(id_col).alias("n"))
    return _tfidf_cosine_from_parts(tf, dfreq, n_docs, threshold, idf_scale)


def tfidf_idf_boundary_margin(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_scale: int = 1000,
    max_doc_freq: int | None = 1000,
) -> float:
    """Cross-engine quantization audit for :func:`tfidf_cosine_pairs`'
    ONE transcendental seam — the twin of
    ``retrieval.bm25_boundary_margin``: the idf weight quantizes
    ``round(ln((N+1)/(df+1))·scale)`` (HALF_UP) AFTER a ``ln`` that
    Spark (JVM ``Math.log``) and an oracle engine (libm) evaluate
    independently; a 1-ulp disagreement flips ``iw`` only if
    ``x = ln·scale`` sits within that ulp of a ``k + 0.5`` boundary.
    The seam's entire input space is the corpus's DISTINCT document
    frequencies (one ``x`` per df value), so this measures the minimum
    ``|frac(x) − 0.5|`` over exactly those points.  At these magnitudes
    (x ≤ ~12·scale) the worst 1-ulp perturbation is ``x·2⁻⁵² ≈ 1e-12``;
    tests pin the margin > 1e-6 on the driver corpora."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_doc_freq is not None:
        dfreq = dfreq.filter(F.col("df") <= max_doc_freq)
    n_docs = df.agg(F.countDistinct(id_col).alias("n"))
    x = (
        F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
        * F.lit(float(idf_scale))
    )
    fx = x - F.floor(x)
    row = (
        dfreq.select("df")
        .distinct()
        .crossJoin(F.broadcast(n_docs))
        .select(F.abs(fx - F.lit(0.5)).alias("m"))
        .agg(F.min("m").alias("m"))
        .first()
    )
    return 0.5 if row["m"] is None else float(row["m"])


def _tfidf_cosine_from_parts(tf, dfreq, n_docs, threshold, idf_scale):
    w = (
        tf.join(dfreq, "term")  # inner join doubles as the hot-term drop
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.round(
                    F.log(
                        (F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                    )
                    * F.lit(float(idf_scale)),
                    0,
                ).cast("long")
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nsq"))
    a = w.alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("id_a"), F.col("nsq").alias("na")),
            "id_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("id_b"), F.col("nsq").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Directional n-gram CONTAINMENT pairs: C(A→B) = |A∩B| / |A| — the
    asymmetric complement of :func:`ngram_jaccard_pairs` for the
    inclusion duplicates Jaccard systematically under-scores.  A short
    document quoted whole inside a much longer one (boilerplate wrapping,
    aggregator pages, quote-reply chains) has Jaccard ≈ |A|/|B| → 0 as B
    grows, but containment of A stays ≈ 1 — the Broder (1997) resemblance
    vs containment distinction; dedup pipelines need both signals.

    Identical plan shape and scale guards as the Jaccard operator (same
    hot-shingle ``max_doc_freq`` cliff guard, same hashed-shingle
    self-join, denominators riding the exploded rows, ONE pair-key
    shuffle).  Emits both directions — ``cont_a = |A∩B|/|A|`` (how much
    of A is inside B) and ``cont_b`` — and keeps pairs where EITHER
    reaches the threshold; ids ordered ``id_a < id_b``.
    """
    sh = word_shingles(df, text_col, id_col, k, with_count=True).select(
        "doc_id", "n_sh", F.xxhash64("shingle").alias("sid")
    )
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("sid")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("sid")
        )
        sh = sh.join(F.broadcast(hot), "sid", "left_anti")
    sh = sh.cache()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(sh)
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first(F.col("a.n_sh")).alias("_na"),
            F.first(F.col("b.n_sh")).alias("_nb"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_common") / F.col("_na"), 6).alias("cont_a"),
            F.round(F.col("n_common") / F.col("_nb"), 6).alias("cont_b"),
        )
        .filter(
            (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold)
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_tokens: int = 8,
    min_docs: int = 2,
    fingerprint: bool = False,
) -> DataFrame:
    """Exact duplicated token spans across documents — substring-level
    dedup, the signal document-level resemblance misses.

    The shingle/MinHash family (ngram_jaccard_pairs, minhash_lsh_pairs)
    scores whole-document similarity; two long documents sharing one
    boilerplate paragraph score near zero there, yet that paragraph is
    exactly what an LLM training pipeline wants to find (memorization
    risk scales with verbatim repetition — the exact-substring dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally: suffix arrays don't distribute,
    but span-grouping does).

    Every length-``n_tokens`` token window of every document (ALL
    occurrences, stride 1 — unlike word_shingles, NOT distinct-per-doc,
    because occurrence counts are the point) is grouped; spans appearing
    in >= ``min_docs`` distinct documents come back as
    ``(span, n_docs, n_occ)``.

    Scale shape: the explode amplifies the corpus ~n_tokens-fold, but the
    aggregation is map-side combined and partial aggregates collapse
    locally wherever duplication is dense (the interesting case).  With
    ``fingerprint=True`` the group key is ``xxhash64(span)`` and the span
    column is ``min(span)`` per group — the exchange then carries 8-byte
    keys instead of span text (the 100-TB shape; collisions at 2^-64 per
    pair).  Default keeps the text key so the result is reproducible by
    any ANSI engine (the driver oracle) — same rows either way, verified
    in tests.
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("_t")
    ).filter(F.size("_t") >= n_tokens)
    spans = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - n_tokens + 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, n_tokens)),
            )
        ).alias("span"),
    )
    if fingerprint:
        keyed = spans.select("doc_id", F.xxhash64("span").alias("_k"), "span")
        agg = keyed.groupBy("_k").agg(
            F.min("span").alias("span"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
    else:
        agg = spans.groupBy("span").agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
    return agg.filter(F.col("n_docs") >= min_docs).select("span", "n_docs", "n_occ")


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via PREFIX FILTERING — the
    literature-standard scalable exact set-similarity join (Chaudhuri et
    al. ICDE'06; Xiao et al. WWW'08 PPJoin), relationally expressed.

    :func:`ngram_jaccard_pairs` explodes EVERY shingle into the self-join,
    so a shingle shared by f documents contributes f^2 candidate pairs;
    its ``max_doc_freq`` guard caps that by *dropping* hot shingles
    (approximating the score).  Prefix filtering keeps the result EXACT
    and still kills the quadratic term: order each document's shingles by
    ascending global document frequency (rarest first; ties broken by the
    shingle hash so the order is total and identical everywhere) and
    index only the first ``n_sh - ceil(threshold * n_sh) + 1`` of them.
    Two sets with Jaccard >= t must overlap in >= ceil(t * |A|) elements,
    and two sorted sets overlapping that much MUST collide inside these
    prefixes — so the prefix self-join yields a candidate SUPERSET with
    no misses.  At t = 0.8 the indexed fraction is ~20% per doc and the
    candidate term shrinks ~(1-t)^2 = 25x; better still, the prefix keeps
    each doc's RAREST shingles, exactly where per-shingle f^2 is smallest
    (stop-shingles land in the suffix and never enter the join).

    Candidates are then verified exactly: the pair list (deduped, ONE
    pair-key shuffle) re-joins both documents' full shingle sets to count
    the true intersection, and |A ∪ B| = n_a + n_b - n_common as in the
    naive operator.  Output is row-identical to
    ``ngram_jaccard_pairs(..., max_doc_freq=None)`` at the same threshold
    (property-tested), with columns ``(id_a, id_b, jaccard)``.

    Candidates also pass the standard LENGTH filter inside the join:
    J >= t forces t * max(|A|,|B|) <= min(|A|,|B|), so size-mismatched
    pairs never reach the verify stage.

    Cost shape: + one global shingle-frequency aggregation and one
    per-doc window sort (both linear, map-side combinable) in exchange
    for a ~(1-t)^2 smaller join fan-out — the trade that keeps exact
    similarity joins alive at corpus scale.  PRECONDITION for the win:
    the shingle-frequency distribution must have a selective tail (true
    of every real Zipfian corpus — names, numbers, typos).  A uniform
    tiny vocabulary (every shingle hot) is the adversarial case: the
    prefixes stop discriminating and candidates approach the naive
    pair space (measured in scripts/soak_jaccard_prefix.py; SOAK.md) —
    there, MinHash-LSH is the right tool.
    """
    assert 0.0 < threshold <= 1.0
    sh = word_shingles(df, text_col, id_col, k, with_count=True).select(
        "doc_id", "n_sh", F.xxhash64("shingle").alias("sid")
    )
    # the full shingle relation is consumed three times (frequency agg,
    # prefix window, verification join) and tokenize+shingle is the
    # expensive projection — cache once, like ngram_jaccard_pairs
    sh = sh.cache()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(sh)
    freq = sh.groupBy("sid").agg(F.count("*").alias("_df"))
    ordered = sh.join(freq, "sid")
    w = W.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("sid").asc())
    prefix = (
        ordered.withColumn("_rn", F.row_number().over(w))
        .filter(
            F.col("_rn")
            <= F.col("n_sh")
            - F.ceil(F.lit(threshold) * F.col("n_sh")).cast("long")
            + 1
        )
        .select("doc_id", "n_sh", "sid")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # length filter (the other standard ssjoin prune): J >= t forces
    # t * max(|A|,|B|) <= |A cap B| <= min(|A|,|B|), so any candidate
    # whose sizes violate it is dead on arrival — drop it inside the
    # join before the pair ever reaches the distinct/verify stages
    cand = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") * threshold <= F.col("b.n_sh"))
            & (F.col("b.n_sh") * threshold <= F.col("a.n_sh")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # ARRAY VERIFY (r17, VERDICT r16 #4): ship each doc's sorted distinct
    # sid set ONCE per doc and compute |A ∩ B| per candidate pair with a
    # codegen array_intersect — the sorted_neighborhood treatment.  The
    # former exploded verify re-joined the full shingle relation twice
    # and shuffled one row per SHARED SHINGLE per pair into the pair-key
    # aggregate; in the hot-vocabulary regime (every pair shares most
    # shingles) that shuffle is quadratic×overlap while this one is one
    # row per candidate.  Row-identical: shingle sets are distinct by
    # construction, |A| = size of the set, and n_common =
    # size(array_intersect) = the join-count (property: tests pin
    # equality to ngram_jaccard_pairs(max_doc_freq=None)).
    arrs = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("sid")).alias("_sids")
    )
    return (
        cand.join(
            arrs.select(F.col("doc_id").alias("id_a"), F.col("_sids").alias("_sa")),
            "id_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("id_b"), F.col("_sids").alias("_sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_common"),
            F.size("_sa").alias("_na"),
            F.size("_sb").alias("_nb"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_overlap: int = 10,
) -> DataFrame:
    """Exact all-pairs t-OVERLAP join: pairs of documents sharing at
    least ``min_overlap`` distinct k-shingles — the absolute-count
    sibling of :func:`jaccard_prefix_pairs` (Chaudhuri et al. ICDE'06's
    primitive IS the overlap join; Jaccard/containment thresholds reduce
    to it).  The absolute form is what contamination screening actually
    asks ("does any training doc share >= c shingles with a benchmark
    item?") — a ratio can dilute a verbatim 50-token quote inside a long
    document below any Jaccard threshold, but the count cannot.

    Same prefix-filter machinery as the Jaccard join, with the simpler
    overlap bound: two sets sharing >= c elements MUST collide within
    their first ``n_sh - c + 1`` rarest-first shingles, so only those
    prefixes enter the self-join; sets with n_sh < c are dropped before
    the window (they cannot reach the bound).  Candidates are verified
    exactly against the full shingle sets.  Returns
    ``(id_a, id_b, n_common)`` with n_common >= min_overlap — pure
    integers, hash-exact cross-engine by construction.

    Cost shape: identical to the Jaccard join (frequency agg + per-doc
    window + prefix self-join + verify, one pair-key shuffle), and the
    same PRECONDITION: prefixes discriminate when the shingle-frequency
    distribution has a selective tail (see jaccard_prefix_pairs'
    adversarial-case note).
    """
    assert min_overlap >= 1
    sh = word_shingles(df, text_col, id_col, k, with_count=True).select(
        "doc_id", "n_sh", F.xxhash64("shingle").alias("sid")
    )
    sh = sh.filter(F.col("n_sh") >= min_overlap).cache()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(sh)
    freq = sh.groupBy("sid").agg(F.count("*").alias("_df"))
    ordered = sh.join(freq, "sid")
    w = W.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("sid").asc())
    prefix = (
        ordered.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("n_sh") - min_overlap + 1)
        .select("doc_id", "sid")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # ARRAY VERIFY (r17): same rewrite as jaccard_prefix_pairs — one
    # sorted distinct sid array per doc, |A ∩ B| per candidate via
    # codegen array_intersect instead of re-joining the exploded shingle
    # relation twice and shuffling one row per shared shingle per pair.
    arrs = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("sid")).alias("_sids")
    )
    return (
        cand.join(
            arrs.select(F.col("doc_id").alias("id_a"), F.col("_sids").alias("_sa")),
            "id_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("id_b"), F.col("_sids").alias("_sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            # cast: the former count(*) was BIGINT; size() is INT —
            # the output schema must not change
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("n_common"),
        )
        .filter(F.col("n_common") >= min_overlap)
    )


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_name: str = "rank",
    n_parts: int | None = None,
) -> DataFrame:
    """Dense global 1-based rank by ``order_cols`` WITHOUT a single-task
    window: the row count cumulated by
    :func:`~radohydro_spark.plans.contracts.ranged_cumsum` — one driver
    job fixes literal range boundaries, each range ranks its own rows,
    and the earlier ranges' counts are added in-plan.

    ``n_parts`` defaults to the session's ``spark.sql.shuffle.partitions``
    (r12; a fixed 32 was a scale seam — a cluster sized for 100 TB sets
    shuffle partitions in the tens of thousands, and each range must
    hold in one task's sort); pass an explicit value only to pin a plan
    in tests.

    The rank is a pure function of the total (order_cols) order, so the
    output is the same for ANY ``n_parts`` and under any re-execution —
    the boundaries only decide WHERE the cumulation cuts, never the
    cumulated order (property-tested against the single-task window).
    A bare ``row_number().over(Window.orderBy(...))`` moves the WHOLE
    relation to one task (the weighted_sample lesson) — this is the
    scalable form.
    """
    ranked, _ = ranged_cumsum(
        df.withColumn("_one", F.lit(1)), [], order_cols, ["_one"], n_parts
    )
    return ranked.withColumn(rank_name, F.col("_cum__one").cast("long")).drop(
        "_one", "_cum__one"
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    key_col: str | None = None,
    key_prefix_len: int | None = 64,
) -> DataFrame:
    """Sorted-Neighborhood Method near-dup pairs (Hernández & Stolfo,
    SIGMOD'95): sort the corpus by a blocking key, slide a ``window``-
    row neighborhood, and exactly verify only the pairs inside it — the
    third blocking family next to LSH banding (hash blocks) and prefix
    filtering (rarest-token blocks).  SNM's niche: it is ORDER-based, so
    it finds prefix-sharing near-dups at a guaranteed
    ``window × N`` candidate budget regardless of token statistics —
    including the uniform-vocabulary regime where prefix filtering's
    precondition fails.

    BLOCKING KEY: ``key_col`` if given (a caller-computed key column —
    the classic SNM usage sorts on a domain key like name+zip);
    otherwise the first ``key_prefix_len`` characters of the text
    (default 64), ties broken by id.  SNM only needs the key ORDER, so
    the sort key must stay BOUNDED: ranking on the raw text (the r11
    form, ``key_prefix_len=None``) shuffles full document bytes as
    range-partition sort keys — measured 1.8 GB shuffle at 500k docs of
    which most was key bytes; the 64-char prefix carries the same
    neighborhood for prefix-sharing corpora at a fraction of the
    shuffle.  Two texts equal in the first 64 chars stay adjacent
    either way; the definitions only differ where documents diverge
    past the prefix — the operator (and its oracle) define the
    neighborhood on the (key, id) order, stated, not hidden.

    Relational shape (scale-correct): global rank via :func:`global_rank`
    (range partition + offset collect — never a single-task window),
    then a RANK-BLOCK self-join verify: docs carry their hashed shingle
    ARRAYS (:func:`shingle_array`, the same law as
    :func:`word_shingles`) into blocks of ``B = max(64, 8·window)``
    consecutive ranks; the neighborhood becomes an equi-join on the
    block id (left side = home rows + the last ``window`` ranks copied
    forward one block, right side = home rows only — every rank-adjacent
    pair lands in exactly ONE block) with the rank-range predicate
    filtered BEFORE the ``size(array_intersect(...))`` projection, so
    the intersect runs on exactly the ``window·N`` true candidates.
    Cost lineage, all measured at 500k docs × w=8: the EXPLODED verify
    (join the exploded shingle relation per candidate) fanned out to
    4 GB shuffle / 15 GB spill; the r11 PER-PAIR ARRAY verify (arrays
    joined to each candidate pair) cut that to 1.8 GB / zero spill but
    still shipped each doc's array ~2·window times; the block join
    ships each array once (+ a ``window/B`` ≤ 12.5% boundary fraction)
    — total operator shuffle drops to 510 MB, identical output
    (soak_blocking.py / SOAK.md).  Unlike the prefix/Jaccard operators there is no exploded
    shingle stage to reuse, which is why the arrays ride the join.
    Returns ``(id_a, id_b, jaccard)`` (ids canonicalized
    ``id_a < id_b``) for verified pairs with ``jaccard >= threshold``
    (the ratio is rounded to 6 places BEFORE the filter; the oracle
    filters the same rounded value — engine and oracle share one law).
    Deterministic: the neighborhood is a pure function of the
    (blocking key, id) total order.

    Like every blocking method this is approximate by design — pairs
    farther than ``window`` ranks apart are not examined; the operator
    reports WHAT THE BLOCKING FOUND, and the oracle reproduces the same
    definition exactly.
    """
    assert window >= 1
    if key_col is not None:
        key = F.col(key_col)
    elif key_prefix_len is not None:
        assert key_prefix_len >= 1
        key = F.substring(F.col(text_col), 1, key_prefix_len)
    else:
        key = F.col(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), key.alias("_key"))
    ranked = global_rank(base, ["_key", "doc_id"], rank_name="_rn").select(
        "doc_id", "_rn"
    )
    # hashed shingle ARRAYS, one row per doc — shingle_array IS
    # word_shingles' law (shared expression), hashed element-wise
    arr = F.transform(shingle_array(text_col, k), lambda s: F.xxhash64(s))
    sets = df.select(
        F.col(id_col).alias("doc_id"), arr.alias("_sh"), F.size(arr).alias("n_sh")
    )
    # BLOCK self-join verify (r12): the r11 form shipped each doc's
    # array once per candidate it verified against (~2·window copies per
    # doc — measured 1.6 GB of the 1.8 GB shuffle at 500k docs).  Rank
    # blocks of size B >= window make the neighborhood an equi-join on
    # the block id: every doc ships its array ONCE (home block) plus a
    # window/B boundary fraction (the last `window` ranks of each block
    # copy to the next), and a rank-adjacent pair lands in EXACTLY one
    # block — the right side joins home rows only, so a same-block pair
    # matches on the shared home and a boundary pair on the left row's
    # forward copy (never both).  Per-block compare budget is B·(B+w)
    # rows against the cheap rank-range predicate; the array intersect
    # is computed in a projection AFTER that filter, so it runs only on
    # the true window·N candidates.  B = max(64, 8·window) keeps the
    # copy fraction <= 12.5% and the block fan-in thousands of keys.
    B = max(64, 8 * window)
    home = (
        ranked.join(sets, "doc_id")
        .withColumn("_blk", F.expr(f"_rn div {B}"))
        .cache()
    )
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(home)
    tail = home.filter(
        F.col("_rn") >= (F.col("_blk") + 1) * B - window
    ).withColumn("_blk", F.col("_blk") + F.lit(1))
    a = home.unionByName(tail).select(
        F.col("doc_id").alias("_ida"),
        F.col("_rn").alias("_rna"),
        F.col("_sh").alias("_sa"),
        F.col("n_sh").alias("_na"),
        "_blk",
    )
    b = home.select(
        F.col("doc_id").alias("_idb"),
        F.col("_rn").alias("_rnb"),
        F.col("_sh").alias("_sb"),
        F.col("n_sh").alias("_nb"),
        "_blk",
    )
    return (
        a.join(b, "_blk")
        .filter(
            (F.col("_rnb") > F.col("_rna"))
            & (F.col("_rnb") <= F.col("_rna") + window)
        )
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.round(
                F.col("n_common")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# winnowing packs (hash, position) into one BIGINT selection key:
# key = hash * WINNOW_POS_CAP + (WINNOW_POS_CAP - 1 - pos).  portable_hash
# < 2^32 and pos < 2^20 keep the key < 2^52 — exact in BIGINT on both
# engines (and even double-safe, though neither engine goes through
# double here).
WINNOW_POS_CAP = 1 << 20


def _positional_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """POSITIONAL k-word shingles — :func:`functions.text.gram_array`
    exploded WITH positions (winnowing selects by position, so repeats
    must stay).  Emits (doc_id, n_sh, pos, shingle) with ``n_sh`` the
    full positional count computed from the array before the explode;
    the only dropped rows are the '' shingles an all-whitespace document
    produces."""
    return (
        df.select(F.col(id_col).alias("doc_id"), gram_array(text_col, k).alias("_sh"))
        .withColumn("n_sh", F.size("_sh"))
        .select("doc_id", "n_sh", F.posexplode("_sh").alias("pos", "shingle"))
        .filter(F.col("shingle") != "")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): slide a ``window``-wide window over
    the document's positional k-gram hash sequence and keep each window's
    MINIMUM hash, ties broken by the RIGHTMOST position (the paper's
    rule); adjacent windows selecting the same (hash, pos) collapse to
    one fingerprint.  Guarantees: any shared substring of length
    ``k + window - 1`` tokens yields at least one shared fingerprint
    (no misses longer than the guarantee threshold), while only
    ~``2/(window+1)`` of positions are kept — a principled, uniform
    density reduction the ad-hoc "every i-th shingle" samplers lack.

    Relational form, integer-exact cross-engine: the min-with-rightmost-
    tie selection packs into ONE BIGINT key
    ``portable_hash(shingle) * 2^20 + (2^20 - 1 - pos)`` — minimizing the
    key minimizes the hash and, on ties, maximizes the position.  The
    window min is ``min(key) OVER (PARTITION BY doc ORDER BY pos ROWS
    BETWEEN CURRENT ROW AND window-1 FOLLOWING)`` evaluated at the
    ``n_sh - window + 1`` full-window start positions (documents shorter
    than ``window`` shingles get one window over what exists, so every
    non-empty document fingerprints).  Positions must stay below 2^20
    (~1M tokens/doc) for the packing — beyond that, chunk documents
    first (``sentence_chunks``), which MOSS-style matching wants anyway.

    Plan shape: ONE doc-key shuffle total — the window sort partitions
    by doc_id, and the dedup groupBy's keys (doc_id, fp_hash, fp_pos)
    are a superset of that partitioning, so Catalyst reuses the exchange
    (plan-asserted in tests).  Output: (doc_id, fp_hash, fp_pos,
    n_windows) where n_windows counts how many windows selected the
    fingerprint (a run-length signal: long unbroken minima are stable
    content regions).

    Reference analog: none — the reference has no text operators; this
    extends the dedup family (SURVEY §2 extension table).
    """
    P = WINNOW_POS_CAP
    sh = _positional_shingles(df, text_col, id_col, k)
    # the key packing requires pos < 2^20 (~1M shingles/doc) — enforce it
    # LOUDLY per row (assert_true errors the task) instead of silently
    # corrupting the min-ordering past the cap (r12 review); the guard
    # expression costs one comparison inside codegen
    keyed = sh.select(
        "doc_id",
        "n_sh",
        "pos",
        F.when(
            F.col("pos") < P,
            portable_hash("shingle") * F.lit(P)
            + (F.lit(P - 1) - F.col("pos")),
        )
        .otherwise(
            F.assert_true(
                F.col("pos") < P,
                F.lit(
                    "winnow_fingerprints: document exceeds 2^20 positional "
                    "shingles — chunk it first (sentence_chunks)"
                ),
            ).cast("long")
        )
        .alias("sel_key"),
    )
    wspec = (
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.currentRow, window - 1)
    )
    sel = keyed.withColumn("wmin", F.min("sel_key").over(wspec)).filter(
        F.col("pos") <= F.greatest(F.col("n_sh") - window, F.lit(0))
    )
    return (
        sel.select(
            "doc_id",
            F.expr(f"wmin div {P}").alias("fp_hash"),
            (F.lit(P - 1) - F.col("wmin") % F.lit(P)).alias("fp_pos"),
        )
        .groupBy("doc_id", "fp_hash", "fp_pos")
        .agg(F.count("*").alias("n_windows"))
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints — the
    MOSS matching step: documents sharing >= ``min_shared`` distinct
    selected hashes.  Winnowing keeps ~``2/(window+1)`` of positions, so
    the fingerprint self-join is that much cheaper than the full shingle
    join at IDENTICAL guarantee threshold (k + window - 1 tokens) — the
    knob the full-shingle operators don't have.

    ``max_fp_freq`` is the same hot-key cliff guard as
    :func:`ngram_jaccard_pairs`: a fingerprint selected by f documents
    contributes f² candidate pairs, so corpus-hot boilerplate minima are
    dropped before the self-join (semantics the oracle reproduces).

    Output: (id_a, id_b, n_shared), all BIGINT — no float anywhere.
    """
    fps = (
        winnow_fingerprints(df, text_col, id_col, k, window)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    if max_fp_freq is not None:
        hot = (
            fps.groupBy("fp_hash")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_fp_freq)
            .select("fp_hash")
        )
        fps = fps.join(F.broadcast(hot), "fp_hash", "left_anti")
    # the self-join consumes fps twice; cache the selected set (it is the
    # ~2/(w+1)-density reduction of the corpus, the cheap side to keep)
    fps = fps.cache()
    from radohydro_spark.plans.pipeline import _PERSISTED

    _PERSISTED.append(fps)
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_coverage(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Graded benchmark-contamination scoring — the quantitative sibling
    of :func:`contamination_check`: for every corpus document sharing at
    least one distinct k-gram shingle with the benchmark set, report
    WHAT FRACTION of the document's shingles are benchmark-covered.  The
    boolean gate answers "is it leaked?"; the coverage score ranks HOW
    leaked — the signal needed to set a removal threshold (a 95%-covered
    doc is a verbatim eval copy, a 2%-covered doc shares a common idiom).

    INTEGER-ONLY output: ``coverage_ppm = 10⁶·n_shared div n_sh`` (true
    SQL ``div`` — never `/`+cast, per the mixture_plan discipline).

    Plan shape identical to the boolean gate: the benchmark's distinct
    shingle-hash set is dimension-sized → broadcast semi-join, then one
    doc-key aggregate; ``n_sh`` rides the exploded rows from the
    pre-explode array size (zero extra shuffle).

    Returns (doc_id, n_sh, n_shared, coverage_ppm), all BIGINT.
    """
    c_sh = word_shingles(corpus, text_col, id_col, k, with_count=True).select(
        "doc_id", "n_sh", F.xxhash64("shingle").alias("sid")
    )
    b_sh = (
        word_shingles(benchmark, text_col, id_col, k)
        .select(F.xxhash64("shingle").alias("sid"))
        .distinct()
    )
    hits = c_sh.join(F.broadcast(b_sh), "sid", "left_semi")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.first("n_sh").cast("long").alias("n_sh"),
            F.count("*").alias("n_shared"),
        )
        .withColumn("coverage_ppm", F.expr("1000000 * n_shared div n_sh"))
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    out_sep: str | None = None,
    fingerprint: bool = False,
) -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup with in-order reassembly — the
    segment-granular sibling of :func:`dedup_exact` (whole documents)
    and :func:`duplicate_spans` (which only REPORTS repeated spans):
    boilerplate that recurs across documents (headers, footers, license
    blocks, navigation chrome) is dropped everywhere EXCEPT its first
    corpus occurrence, and each document is rebuilt from its surviving
    paragraphs in original order — the C4/CCNet-style dedup granularity
    between document and span.

    Semantics: split ``text_col`` on the ``sep`` REGEX (``pyspark
    split``), drop whitespace-only segments — whitespace is the
    EXPLICIT class ``[ \\t\\n\\f\\r\\x0B]``, not a bare ``\\s``: Java
    regex ``\\s`` matches vertical tab while RE2's (DuckDB's) does not,
    so the shorthand is a cross-engine seam; the explicit class is
    identical on both (both r13 review passes).  A tab-only segment is
    not a paragraph (the ASCII-space-only ``trim`` law was too narrow).
    Keep a paragraph occurrence
    iff it is the corpus-FIRST occurrence of that exact string ordered by
    ``(id, pos)`` — deterministic, so both engines agree — and reassemble
    with ``out_sep`` (default: ``sep`` taken literally).  Documents whose
    every segment is whitespace-only vanish from the output (they have no
    surviving text); callers wanting them back left-join on the id.

    Plan shape — two shuffles, both key-bounded:

    1. first-occurrence ranking: one window partitioned BY PARAGRAPH
       (``row_number`` over (id, pos)) — the exchange carries (id, pos,
       para) rows hashed on the paragraph text, exactly the dedup
       shuffle of :func:`dedup_exact` at paragraph granularity;
    2. reassembly: one groupBy on the id — ``collect_list`` there is
       bounded by a single document's paragraph count (the same per-doc
       contract as pack_sequences), then sorted/joined JVM-side.

    ``fingerprint=True`` (r14, the :func:`duplicate_spans` option
    mirrored — VERDICT r13 #7) makes exchange 1 CHEAP at scale WITHOUT
    a collision contract: the window partitions on
    ``xxhash64(para)`` (an 8-byte key — the exchange partitioner and
    the window sort compare longs, never full paragraph bytes) and
    keeps EXACT TEXT AS THE TIE-LAW inside the partition: rows sort by
    ``(para, id, pos)`` within each fingerprint, and a row is kept iff
    its paragraph differs from its predecessor's (``lag``) — the first
    row of each paragraph-run is exactly that paragraph's corpus-first
    (id, pos) occurrence, and a 64-bit collision merely co-locates two
    distinct paragraphs whose runs stay separate (string comparisons
    happen only WITHIN a fingerprint bucket, where almost every
    comparison is between true duplicates).  Row-identical to the
    default path by construction (property-tested); the default stays
    ``False`` so existing callers keep their exact plan.

    No UDF, no driver action.  Returns ``(id_col, n_paras, n_kept,
    text_dedup)`` with ``n_paras`` counting the document's non-empty
    segments before dedup.

    Reference analog: none — the reference has no text operators; this
    extends the dedup family (SURVEY §2 extension table).
    """
    out_sep = sep if out_sep is None else out_sep
    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "para"),
    ).filter(F.regexp_replace(F.col("para"), r"[ \t\n\f\r\x0B]", "") != "")
    if fingerprint:
        w = W.partitionBy(F.xxhash64("para")).orderBy(
            F.col("para").asc(), F.col("_id").asc(), F.col("pos").asc()
        )
        # first row of each paragraph-run = that paragraph's (id, pos)-
        # first occurrence; exact text is the tie-law, the 8-byte hash
        # only co-locates
        ranked = paras.withColumn(
            "_keep",
            F.coalesce(
                F.lag("para").over(w) != F.col("para"), F.lit(True)
            ),
        )
    else:
        w = W.partitionBy("para").orderBy(
            F.col("_id").asc(), F.col("pos").asc()
        )
        ranked = paras.withColumn(
            "_keep", F.row_number().over(w) == F.lit(1)
        )
    return (
        ranked.groupBy("_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(
                                    F.col("pos").alias("pos"),
                                    F.col("para").alias("para"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
                out_sep,
            ).alias("text_dedup"),
        )
        .select(F.col("_id").alias(id_col), "n_paras", "n_kept", "text_dedup")
    )
