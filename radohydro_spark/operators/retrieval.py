"""Text retrieval primitives: BM25 scoring and reciprocal-rank fusion.

A training-data pipeline retrieves constantly — decontamination probes
("which training docs score high against this benchmark item?"), eval-set
mining, targeted curation ("find docs about X to up/down-sample").  The
lexical side of that is BM25 over an inverted index (posting-list joins —
the join IS the index at Spark scale), and hybrid lexical+vector search is
two rankings fused rank-wise (RRF), not score-wise (BM25 and cosine live
on incomparable scales; ranks are scale-free).

Cross-engine exactness contract (same discipline as tfidf_cosine_pairs):

* BM25 per-term contributions are computed in ONE fixed expression order
  (idf, then the tf saturation fraction, one multiply) and quantized
  ``floor(x·10⁶ + 0.5)`` to BIGINT BEFORE the per-document sum — float
  sums are partial-aggregation-order dependent, integer sums are not, so
  the ranking both engines see is identical to the last bit.  The one
  residual seam — the quantization happens AFTER a transcendental
  (``ln``) the two engines evaluate independently — is AUDITED, not
  assumed: :func:`bm25_boundary_margin` measures every contribution's
  pre-floor distance from its integer boundary, and the tests pin that
  margin ≫ the worst 1-ulp cross-engine ``ln`` disagreement on the
  driver corpora.
* RRF is integer-only end-to-end: ``1_000_000 div (k0 + rank)`` summed as
  BIGINT.  No float exists anywhere in the fusion.

Reference scope note: the reference pipeline (radohydro.py) has no search
surface; these operators belong to the LLM-data-pipeline extension family
(SURVEY.md §"beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from radohydro_spark.functions.text import tokens
from radohydro_spark.plans.contracts import bounded_global
from radohydro_spark.session import pin


def _bm25_term_rows(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    query_id_col: str,
    query_text_col: str,
    k1: float,
    b: float,
    scale: int,
) -> DataFrame | None:
    """Shared term-level BM25 pipeline (one definition for the scorer
    and the boundary audit below): postings + document frequencies +
    broadcast query terms, one row per scored (query, doc, term) with
    ``_x`` = the PRE-FLOOR quantization value ``idf·frac·scale + 0.5``
    (double) and ``_c`` = ``floor(_x)`` BIGINT.  Returns ``None`` on an
    empty corpus."""
    d = docs.select(F.col(id_col).alias("_doc"), tokens(text_col).alias("_toks"))
    d = d.withColumn("_len", F.size("_toks")).filter(F.col("_len") > 0)
    postings = (
        d.select("_doc", "_len", F.explode("_toks").alias("_term"))
        .filter(F.col("_term") != "")
        .groupBy("_doc", "_len", "_term")
        .agg(F.count("*").alias("_tf"))
    )
    postings = pin(postings.cache())
    stats = d.select(
        F.count("*").alias("n"), F.sum("_len").alias("total_len")
    ).first()
    n_docs, total_len = stats["n"], stats["total_len"]
    if not n_docs:
        return None
    # avgdl as the exact integer ratio evaluated ONCE into a double —
    # both engines divide the same two integers
    avgdl = float(total_len) / float(n_docs)
    df_t = postings.groupBy("_term").agg(F.count("*").alias("_df"))
    q = (
        queries.select(
            F.col(query_id_col).alias("_q"), tokens(query_text_col).alias("_qt")
        )
        .select("_q", F.explode("_qt").alias("_term"))
        .filter(F.col("_term") != "")
        .distinct()
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )
    tf = F.col("_tf").cast("double")
    frac = (
        tf
        * F.lit(k1 + 1.0)
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("_len") / F.lit(avgdl)))
    )
    x = idf * frac * F.lit(float(scale)) + F.lit(0.5)
    return (
        postings.join(df_t, "_term")
        .join(F.broadcast(q), "_term")
        .select("_q", "_doc", x.alias("_x"), F.floor(x).cast("long").alias("_c"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k documents per query by BM25 (Robertson-Sparck Jones / Okapi).

    score(q, d) = Σ_{t ∈ distinct(q)} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard
    non-negative BM25+ idf.

    Relational shape (the 100-TB plan): tokenize → per-(doc, term) tf
    aggregate (ONE shuffle on the term-pair key, map-side combined) →
    document-frequency aggregate over the posting table (same relation,
    second shuffle on term) → the QUERY terms (a dimension table: queries
    are human-sized) broadcast-join the postings, so only postings of
    query terms ever flow; per-term contributions quantize to BIGINT and
    sum per (query, doc); row_number window ranks within each query
    (ties → smaller doc id).  No full-corpus score materialization: docs
    sharing no query term never appear.

    ``N`` and ``avgdl`` come from one corpus-level aggregate (two longs —
    a dimension-sized driver action by the usual contract).  Scores are
    ``score_micro`` = round(BM25 · 10⁶) BIGINT; exact cross-engine (the
    per-term float path is a fixed-order expression both engines evaluate
    identically — ln/division determinism per the repo float discipline —
    and the only SUM is over integers).
    """
    assert k >= 1
    terms = _bm25_term_rows(
        docs, queries, text_col, id_col, query_id_col, query_text_col, k1, b, scale
    )
    if terms is None:
        from pyspark.sql import types as T

        # id types derive from the inputs (the greedy_max_coverage lesson:
        # never hardcode 'long' for a generic id parameter)
        return docs.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        query_id_col, queries.schema[query_id_col].dataType
                    ),
                    T.StructField(id_col, docs.schema[id_col].dataType),
                    T.StructField("score_micro", T.LongType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    scored = (
        terms.select("_q", "_doc", "_c")
        .groupBy("_q", "_doc")
        .agg(F.sum("_c").alias("score_micro"))
    )
    w = W.partitionBy("_q").orderBy(F.desc("score_micro"), F.asc("_doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_q").alias(query_id_col),
            F.col("_doc").alias(id_col),
            "score_micro",
            "rank",
        )
    )


def bm25_boundary_margin(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    scale: int = 1_000_000,
) -> float:
    """Cross-engine quantization-safety audit for :func:`bm25_topk`'s ONE
    transcendental seam: ``score_micro`` quantizes
    ``floor(ln(...)·frac·scale + 0.5)`` AFTER the ``ln`` that Spark (JVM
    ``Math.log``) and an oracle engine (libm) evaluate independently —
    correctly-rounded on common inputs but not guaranteed bit-equal.  A
    1-ulp disagreement flips a contribution by 1 ONLY if the pre-floor
    value sits within that ulp of an integer boundary.  This returns the
    MINIMUM distance to the nearest integer over every scored
    (query-term, doc) contribution — the same term relation the scorer
    aggregates, one extra min-aggregate.

    Safety criterion: with ``x ≤ idf_max·(k1+1)·scale`` (≈3·10⁷ at
    10⁵ docs), a 1-ulp ``ln`` split perturbs ``x`` by at most
    ``x·2⁻⁵² ≈ 10⁻⁸`` — a margin above ``1e-6`` leaves two orders of
    magnitude of headroom, so no engine pair disagreeing by ≤1 ulp can
    flip any ``score_micro``.  Pinned per-corpus by
    tests/test_round10c_ops.py over the driver fixtures; returns 0.5
    (the maximum possible margin) when nothing is scored."""
    terms = _bm25_term_rows(
        docs, queries, text_col, id_col, query_id_col, query_text_col, k1, b, scale
    )
    if terms is None:
        return 0.5
    fx = F.col("_x") - F.floor("_x")
    row = terms.select(
        F.min(F.least(fx, F.lit(1.0) - fx)).alias("m")
    ).first()
    return 0.5 if row["m"] is None else float(row["m"])


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack, Clarke & Buettcher SIGIR'09):
    fuse N rankings of the same id domain into one,
    ``fused(d) = Σ_i 1/(k0 + rank_i(d))`` over the rankings that contain
    d.  Rank-based fusion needs no score calibration — the standard way
    to combine lexical (BM25) and vector (cosine) retrieval whose raw
    scores are incomparable.

    INTEGER-ONLY: each contribution is ``1_000_000 div (k0 + rank)``
    (integer floor division) and the fusion is a BIGINT sum — no float
    exists anywhere, so the fused ordering is trivially identical on any
    engine.  Ties break on the smaller id.  Input rankings are already
    top-k-sized (dimension tables); the union + aggregate is a
    candidates-only shuffle.

    Returns ``(id_col, fused_score, fused_rank)`` for the top ``k``.
    """
    assert rankings and k >= 1 and k0 >= 0
    # TRUE SQL `div`, never `/`+cast: the double quotient can round
    # ACROSS an integer before the cast truncates (the mixture_plan
    # seam class) — `div` floors exactly like DuckDB's `//`
    contrib = F.expr(
        f"CAST(1000000 AS BIGINT) div (CAST({int(k0)} AS BIGINT) + `{rank_col}`)"
    )
    parts = [
        r.select(F.col(id_col).alias("_id"), contrib.alias("_c"))
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("_id").agg(F.sum("_c").alias("fused_score"))
    # candidates-only relation (union of top-k-sized rankings) — the
    # global ranking sort is declared-bounded and cap-asserted in-plan
    rank = bounded_global(
        F.row_number(),
        lambda w: w.orderBy(F.desc("fused_score"), F.asc("_id")),
        "int",
        "rrf_fuse",
        cap=1_000_000,
    )
    return (
        fused.withColumn("fused_rank", rank)
        .filter(F.col("fused_rank") <= k)
        .select(F.col("_id").alias(id_col), "fused_score", "fused_rank")
    )
