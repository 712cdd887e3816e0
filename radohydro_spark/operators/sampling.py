"""Deterministic corpus sampling and dataset splits.

Training-data pipelines need samples and train/val/test splits that are
(a) reproducible across runs and engines — no RNG, no seed-drift between
retries — and (b) stable under corpus growth (a document's split never
changes when other documents arrive).  Both follow from hashing a stable
id: ``bucket = portable_hash(id) mod N``.  ``portable_hash`` (md5-prefix,
functions/text.py) is reproducible bit-for-bit in DuckDB SQL, so every
operator here has an exact oracle twin.

All column arithmetic — one md5 + conv per row, whole-stage codegen,
no shuffle; sampling composes with any downstream plan as a plain filter
(and pushes down past column pruning like one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radohydro_spark.functions.text import gram_array, portable_hash, tokens
from radohydro_spark.session import pin


def hash_bucket(
    id_col: Column | str, mod: int = 100, portable: bool = True
) -> Column:
    """Stable bucket 0..mod-1 from a string id.

    ``portable=False`` swaps the md5-prefix hash for JVM xxhash64
    folded to the same 32-bit domain (the poisson_bootstrap_ci fast
    path: same law shape, deterministic, NOT SQL-replayable — no
    DuckDB twin, so no oracle).  The md5 form is an ORACLE TAX, not a
    design cost — the gap is measured in SOAK.md (hash-tax table)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    if portable:
        h = portable_hash(c.cast("string"))
    else:
        h = F.pmod(F.xxhash64(c.cast("string")), F.lit(1 << 32))
    return F.pmod(h, F.lit(mod)).cast("int")


def hash_sample(df: DataFrame, id_col: str, pct: float, mod: int = 1000) -> DataFrame:
    """Deterministic ~pct% sample: keeps rows whose bucket < pct*mod/100.

    Unlike ``df.sample()`` the result is a pure function of the id — the
    same rows survive on every run, every engine, every partition layout.

    The kept-bucket count rounds HALF_UP (floor(x + 0.5)) — the same rule
    ``stratified_hash_sample``'s F.round applies, so the plain and
    stratified samplers keep identical rows for identical rates (Python's
    banker's round() disagreed at half-bucket thresholds, r12 review)."""
    keep = int(pct * mod / 100.0 + 0.5)
    return df.filter(hash_bucket(id_col, mod) < keep)


def split_assign(
    df: DataFrame,
    id_col: str,
    val_pct: int = 10,
    test_pct: int = 10,
    col_name: str = "split",
    portable: bool = True,
) -> DataFrame:
    """Annotate rows with a stable train/val/test assignment.

    Buckets 0..99: [0, val_pct) → val, [val_pct, val_pct+test_pct) → test,
    rest → train.  Membership is per-id stable: growing the corpus never
    reassigns an existing document.

    ``portable=False``: the :func:`hash_bucket` xxhash64 fast path —
    same stability/determinism contract, different (but equally
    uniform) assignment, no SQL oracle (r14 VERDICT #5)."""
    b = hash_bucket(id_col, 100, portable=portable)
    return df.withColumn(
        col_name,
        F.when(b < val_pct, F.lit("val"))
        .when(b < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def group_kfold(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    col_name: str = "fold",
) -> DataFrame:
    """Leakage-safe k-fold assignment: EVERY row of a group lands in the
    same fold (``fold = portable_hash(group) mod k``), so entities —
    users, sessions, source domains — never straddle a train/eval
    boundary.  Splitting training data on the ROW id leaks whenever rows
    of one entity are correlated (a user's near-identical events end up
    on both sides and eval scores inflate); hashing the GROUP key is the
    sklearn ``GroupKFold`` contract, here as a pure column expression.

    Same scale/stability properties as :func:`split_assign`: one md5 per
    row inside whole-stage codegen, no shuffle, no RNG, membership
    stable under corpus growth, exact DuckDB oracle twin via the
    portable hash.  Fold sizes are as balanced as the GROUP-size
    distribution allows — a skewed group is the data's property, not the
    splitter's."""
    b = portable_hash(F.col(group_col).cast("string")) % k
    return df.withColumn(col_name, b.cast("int"))


def stratified_cap(
    df: DataFrame, id_col: str, strata_col: str, cap: int
) -> DataFrame:
    """Keep at most ``cap`` rows per stratum — the per-source/per-language
    quota pass of corpus curation (downsample the over-represented crawl,
    keep every row of rare strata).

    Survivors are a pure function of the ids: rank within the stratum by
    ``(portable_hash(id), id)`` and keep rank <= cap, so reruns, engine
    swaps, and corpus growth never churn the kept set beyond what the
    hash order implies.  An exact cap requires a per-stratum ordering —
    ONE shuffle on the stratum key; at 100 TB pre-filter cheap strata
    first (``hash_sample``) so only near-cap strata pay the sort, and a
    skewed mega-stratum can be pre-thinned the same way."""
    w = W.partitionBy(strata_col).orderBy(
        portable_hash(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_cap_rank", F.row_number().over(w))
        .filter(F.col("_cap_rank") <= cap)
        .drop("_cap_rank")
    )


def stratified_hash_sample(
    df: DataFrame, id_col: str, strata_col: str, rates: dict, mod: int = 1000
) -> DataFrame:
    """Per-stratum deterministic sampling rates (e.g. downsample boilerplate
    languages, keep all rare ones): ``rates`` maps stratum value → percent.
    Strata absent from ``rates`` are dropped — make the keep-all rate
    explicit."""
    if not rates:
        # absent-strata-drop semantics degenerate to "keep nothing"; a
        # zero-arg create_map would type as map<void,void> and fail
        # analysis instead (the global_rank empty-input lesson, r12)
        return df.filter(F.lit(False))
    rate_map = F.create_map(
        *[F.lit(x) for kv in rates.items() for x in kv]
    )
    keep_pct = rate_map.getItem(F.col(strata_col))
    return df.filter(
        keep_pct.isNotNull()
        & (hash_bucket(id_col, mod) < F.round(keep_pct * mod / 100.0).cast("int"))
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    portable: bool = True,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis '06): key_i = ln(u_i) / w_i with u_i uniform from the
    portable hash of the id; the top-n keys are a weight-proportional
    sample.  Quality-weighted corpus draws ("prefer long/high-quality
    docs but keep diversity") become reproducible across engines, runs,
    and partition layouts — no RNG.

    Weights must be > 0 (rows with NULL/non-positive weight are dropped).
    The top-n is ``orderBy(...).limit(n)`` — Spark plans it as
    TakeOrderedAndProject: each task keeps a local n-row heap and the
    driver merges tasks*n candidates, so nothing ever concentrates the
    corpus on one partition.  (A global row_number window is the wrong
    shape here: with no partition key, WindowExec moves ALL rows to a
    single task — measured in the plan, not guessed.)

    Returns the input columns plus ``sample_key`` (for auditability) —
    filter/project downstream as needed.

    ``portable=False``: the uniform u_i comes from JVM xxhash64 folded
    to the same 32-bit domain — identical Efraimidis–Spirakis law
    shape and determinism, ~an order of magnitude less per-row hash
    cost, no SQL oracle (r14 VERDICT #5; tax table in SOAK.md).
    """
    if portable:
        h32 = portable_hash(F.col(id_col).cast("string"))
    else:
        h32 = F.pmod(
            F.xxhash64(F.col(id_col).cast("string")), F.lit(1 << 32)
        )
    u = (h32.cast("double") + 0.5) / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.col(id_col))
        .limit(n)
    )


def bottom_k_sample(
    df: DataFrame, id_col: str, k: int, portable: bool = True
) -> DataFrame:
    """Exact-size-k deterministic uniform sample: the k rows with the
    smallest ``md5(id)`` (ties broken by the id itself).

    ``hash_sample`` gives a deterministic ~fraction; this gives a
    deterministic exact COUNT — the bottom-k sketch (Cohen & Kaplan
    2007).  Because the rank key is a pure function of the id, samples
    are COORDINATED: two tables sampled on the same key domain pick the
    same ids (joinable samples), reruns and engines agree bit-for-bit,
    and growing k strictly extends the sample (bottom-10k contains
    bottom-1k — incremental audits never resample from scratch).

    Shape: Spark plans this as TakeOrderedAndProject — per-partition
    top-k heaps merged at the driver, NO global sort and no full-data
    shuffle; the only data movement is k rows per partition.

    ``portable=False``: rank by folded JVM xxhash64 instead of the md5
    hex string — the same coordinated/nested/deterministic bottom-k
    law on a different hash order, no SQL oracle, and neither an md5
    nor a hex-string comparison per row (r14 VERDICT #5; tax table in
    SOAK.md).
    """
    if portable:
        key = F.md5(F.col(id_col).cast("string")).asc()
    else:
        key = F.pmod(
            F.xxhash64(F.col(id_col).cast("string")), F.lit(1 << 32)
        ).asc()
    return df.orderBy(key, F.col(id_col).asc()).limit(k)


def greedy_max_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    shingle_k: int = 3,
) -> DataFrame:
    """Greedy maximum-coverage document selection — the classic
    submodular data-curation primitive (Nemhauser et al. 1978: the
    greedy sweep is a (1-1/e)-approximation, the best any polynomial
    algorithm guarantees): pick ``k`` documents one at a time, each
    maximizing the number of NOT-yet-covered distinct ``shingle_k``-gram
    shingles.  The shape of coreset / seed-corpus selection: a handful
    of documents covering the most linguistic surface.

    Returns ``(sel_round, doc_id, gain)`` — rounds are 1-based, ``gain`` is
    the marginal coverage (> 0 by construction); stops early when no
    document adds anything, so the output can be shorter than ``k``.
    Ties break on the smaller doc_id — fully deterministic, and the
    driver oracle reproduces the sweep as generated SQL rounds.

    Shape per round: one anti-join of the (cached, exploded-once)
    doc-shingle pairs against the covered-shingle set, one map-side-
    combined gain aggregation, and a TakeOrderedAndProject argmax whose
    driver action is ONE row (the same dimension-sized-action contract
    as IVF's probed centroids).  The covered set grows by at most one
    document's shingles per round and is localCheckpoint-truncated, so
    round r never replays rounds 1..r-1.
    """
    from radohydro_spark.operators.dedup import word_shingles

    assert k >= 1
    spark = df.sparkSession
    # The id column keeps its source type end-to-end (string UUIDs, ints,
    # ...): the picked-doc anti-join frame and the result frame are built
    # from an explicit schema derived from df, never inferred from Python
    # values (inference would coerce e.g. numpy ints and crash on None).
    id_type = df.schema[id_col].dataType
    id_schema = T.StructType([T.StructField("doc_id", id_type)])
    out_schema = T.StructType(
        [
            T.StructField("sel_round", T.LongType()),
            T.StructField("doc_id", id_type),
            T.StructField("gain", T.LongType()),
        ]
    )
    pairs = pin(
        word_shingles(df, text_col, id_col, k=shingle_k)
        .select("doc_id", F.xxhash64("shingle").alias("sid"))
        .persist()
    )

    covered = None
    chosen: list[tuple[int, object, int]] = []
    for rnd in range(1, k + 1):
        remaining = pairs
        if covered is not None:
            remaining = remaining.join(covered, "sid", "left_anti")
        if chosen:
            picked = spark.createDataFrame(
                [(c[1],) for c in chosen], id_schema
            )
            remaining = remaining.join(F.broadcast(picked), "doc_id", "left_anti")
        top = (
            remaining.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.col("gain").desc(), F.col("doc_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        doc, gain = top[0]["doc_id"], top[0]["gain"]
        chosen.append((rnd, doc, gain))
        new_cov = pairs.filter(F.col("doc_id") == doc).select("sid")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(chosen, out_schema)


def mmr_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id,
    k: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    scale: int = 10_000,
    lit_budget: int = 2_000,
    scorer: str = "auto",
    arrow_budget: int = 50_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98) over an embedding corpus: greedily pick ``k`` items
    maximizing ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` — relevance to a
    query vector traded against redundancy with what is already picked.
    The diversity-aware twin of :func:`greedy_max_coverage` (set cover
    over shingles there, cosine redundancy over embeddings here): the
    shape of few-shot exemplar selection and diverse-seed curation.

    EXACT cross-engine by integer quantization: every vector is
    L2-normalized in double (division and sqrt of identical doubles are
    deterministic), then quantized ``floor(v_i/‖v‖·scale + 0.5)`` to
    BIGINT — the same IEEE-identical rounding as quantize_int8_stats —
    so rel and sim are exact integer dot products (cosine·scale², within
    2^53 for any real embedding dim) and the MMR score
    ``lam_num·rel − (lam_den−lam_num)·maxsim`` (λ = lam_num/lam_den,
    scaled by lam_den) is an exact BIGINT: the per-round argmax can never
    split on a ulp.  Ties break on the smaller id.  Round 1 is argmax
    relevance (the standard MMR base case; no diversity term exists yet).
    The query row itself is excluded from the candidates.

    Shape per round: the quantized corpus (computed once, cached) streams
    through ONE narrow projection that scores λ·rel − (1−λ)·greatest of
    ≤k LITERAL dot products (the selected vectors live on the driver —
    each round's argmax row carries its quantized vector home), then a
    TakeOrderedAndProject argmax whose driver action is one row: exactly
    ONE job per round.  Never an n×n pair join — redundancy is only ever
    measured against the selected set.

    Returns ``(sel_round, <id_col>, score)`` — score is the scaled
    integer MMR objective (round 1: lam_num·rel).

    Redundancy-term strategy (r15, closes the r14 VERDICT #4; the
    literal/broadcast choice is made PER ROUND on the CURRENT selected
    set's ``len(sel_vecs)·dim`` integers — r15 ADVICE: the measured
    crossover is a per-round analysis cost, so a large-k selection's
    early rounds stay on the cheaper literal path and switch over only
    once the selected set outgrows the budget; both paths are
    row-identical, so the mid-selection switch cannot change output):
    below ``lit_budget`` the round's maxsim
    is ``greatest()`` over ≤k LITERAL dot products — plan constants,
    cheapest for the few-shot shape (tiny dims, k ≤ ~10).  PAST the
    budget the same selected vectors ship as DATA instead of plan
    literals: a ONE-ROW broadcast relation holding
    ``array<array<bigint>>``, cross-joined (broadcast nested-loop,
    build side = 1 row, no shuffle) so
    ``maxsim = array_max(transform(sels, s → idot(qv, s)))`` — per-
    round Catalyst analysis cost is O(1) instead of O(k·dim), while
    the per-row arithmetic (O(k·dim), the MMR objective itself) is
    unchanged.  Both paths are the SAME integer law — row-identical
    output, property-tested by forcing ``lit_budget=0``; each round
    remains exactly ONE job in both.

    The default budget is 2_000, set by MEASUREMENT, not by where the
    literal plan breaks: at dim=5100 the literal path costs ~1.5 ms
    PER LITERAL per round in Catalyst analysis (39.5 s/round at
    k·dim=51k) while the broadcast form's fixed cost is ~2 s/round
    regardless of k·dim (SOAK.md r15) — the crossover is near
    r·dim ≈ 1-2k, three orders below the r14 250k breakage cap.
    Embedding-scale selections (dim ≥ 64) should always take the
    broadcast path; the literal path exists for the tiny-dim few-shot
    exemplar shape where it beats the join's constant.

    CORPUS-SIZE strategy (r16, closes the r15 VERDICT #4): both SQL
    forms evaluate the dot products as INTERPRETED higher-order
    lambdas — measured flat (the ~1.6 s/round fixed job cost) to ~20k
    docs, but 5.3 s/round at 100k docs × (r+1)·dim ≈ 1.3e8 elements
    and linear beyond (SOAK.md r16).  ``scorer="auto"`` (default)
    therefore prices each round as ``corpus·(len(selected)+1)·dim``
    elements (one rdd.count job over the cache at entry, auto mode
    only) and, past ``arrow_budget``
    (default 5e7 — the measured knee), scores the round in ONE
    vectorized numpy int64 matmul inside ``mapInPandas`` — the SAME
    integer law (int64 arithmetic, exact within the documented
    quantization domain), property-pinned row-identical to both SQL
    forms, argmax still the shared TakeOrderedAndProject, still one
    job per round.  ``scorer="sql"`` / ``"arrow"`` force a path.
    """
    assert k >= 1 and 0 < lam_num < lam_den
    if scorer not in ("auto", "sql", "arrow"):
        raise ValueError(
            f"mmr_select: scorer must be auto/sql/arrow, got {scorer!r}"
        )
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("sel_round", T.LongType()),
            T.StructField(id_col, id_type),
            T.StructField("score", T.LongType()),
        ]
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    qv = F.when(
        nrm > 0,
        F.transform(v, lambda x: F.floor(x / nrm * scale + 0.5).cast("long")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    qdf = pin(df.select(F.col(id_col).alias("_id"), qv.alias("_qv")).cache())

    qrow = qdf.filter(F.col("_id") == query_id).collect()
    if not qrow:
        raise ValueError(f"mmr_select: query_id {query_id!r} not in corpus")
    qvec = qrow[0]["_qv"]
    # corpus size prices the arrow-vs-sql decision — auto mode only
    # (forced paths skip it).  DataFrame.count() stays JVM-side over
    # the just-materialized cache (an rdd.count() would serialize the
    # ENTIRE quantized corpus — id + dim int64s per row — into Python
    # workers just to count it, a wall cost on the order of a scoring
    # round at the exact scale the arrow path targets; r16 review).
    # AQE may split the count into 2-3 counter-sized stage jobs: a
    # constant per SELECTION, never per round (job pin: auto <= k+4).
    n_corpus = qdf.count() if scorer == "auto" else 0
    # The per-round literal redundancy term embeds the SELECTED SET's
    # integer literals and Catalyst re-analyzes the greatest() tree
    # every round — the measured ~1.5 ms/literal crossover is against
    # the CURRENT round's len(sel_vecs)·dim, not the final k·dim, so
    # the path is chosen PER ROUND (r15 ADVICE: a large-k selection's
    # early rounds are cheaper on literals; both paths are
    # row-identical, so switching mid-selection is safe).  Past the
    # budget the selected set ships as a one-row broadcast ARRAY
    # relation instead (analysis O(1)/round, same law; see docstring).

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # ARROW scoring path (r16, VERDICT r15 #4): the SQL higher-order
    # forms evaluate INTERPRETED lambdas per array element — measured
    # flat (~1.6 s/round fixed cost) to ~20k docs but 5.3 s/round at
    # 100k docs × (r+1)·dim ≈ 1.3e8 elements, i.e. the interpreted
    # arithmetic dominates past ~5e7 elements per round.  Past
    # `arrow_budget` corpus·(r+1)·dim elements the round's scoring runs
    # as ONE vectorized numpy int64 matmul inside mapInPandas — the
    # SAME integer law (int64 dot products, exact within the documented
    # quantization domain), property-pinned row-identical; the argmax
    # stays the shared TakeOrderedAndProject, still one job per round.
    arrow_out = T.StructType(
        [
            T.StructField("_id", id_type),
            T.StructField("_qv", T.ArrayType(T.LongType())),
            T.StructField("_score", T.LongType()),
        ]
    )

    def _score_arrow(remaining: DataFrame, svecs: list[list[int]]):
        import numpy as np

        q = np.asarray(qvec, dtype="int64")
        S = np.asarray(svecs, dtype="int64") if svecs else None
        ln, ld = lam_num, lam_den

        def kernel(batches):
            import pandas as pd

            # per-BATCH local top-1 prune: the global argmax only needs
            # each batch's winner, so only ≤1 row (with its vector)
            # crosses back to the JVM per Arrow batch — returning every
            # row's _qv measured 7.2→44.6 s/round at 100k→400k docs
            # (the output transfer dominated); the prune is the
            # kmv_sketch candidate-superset argument applied to argmax
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # NULL / wrong-dim vectors score NULL in the SQL forms
                # (zip_with/aggregate propagate NULL) and lose the
                # argmax under desc-NULLS-LAST; mirror that here
                # instead of letting np.stack raise (r16 review) — a
                # batch with no scorable row forwards its min-id null
                # row so an all-null corpus still returns the SQL
                # form's (null score, min id) pick
                ok = pdf["_qv"].map(
                    lambda a: a is not None and len(a) == len(q)
                )
                sub = pdf[ok]
                if len(sub) == 0:
                    i = pdf["_id"].sort_values().index[0]
                    yield pd.DataFrame(
                        {
                            "_id": [pdf["_id"][i]],
                            "_qv": [None],
                            "_score": [None],
                        }
                    )
                    continue
                V = np.stack(sub["_qv"].to_numpy()).astype("int64")
                sc = ln * (V @ q)
                if S is not None:
                    sc = sc - (ld - ln) * (V @ S.T).max(axis=1)
                m = sc.max()
                # smallest _id among the batch's max-score rows — the
                # global tie law applied locally (UTF-8 byte order ==
                # code-point order, so Python string comparison agrees
                # with Spark's)
                tied = sub["_id"][sc == m]
                i = tied.sort_values().index[0]
                yield pd.DataFrame(
                    {
                        "_id": [sub["_id"][i]],
                        "_qv": [sub["_qv"][i]],
                        "_score": [int(m)],
                    }
                )

        return remaining.select("_id", "_qv").mapInPandas(kernel, arrow_out)

    cands = qdf.filter(F.col("_id") != query_id).withColumn(
        "_rel", _idot(F.col("_qv"), F.array(*[F.lit(int(c)) for c in qvec]))
    )
    chosen: list[tuple] = []  # (sel_round, id, score)
    sel_vecs: list[list[int]] = []  # quantized vectors of the selected set
    for rnd in range(1, k + 1):
        elements = n_corpus * (len(sel_vecs) + 1) * len(qvec)
        if scorer == "arrow" or (
            scorer == "auto" and elements > arrow_budget
        ):
            base = qdf.filter(F.col("_id") != query_id)
            if chosen:
                base = base.filter(
                    ~F.col("_id").isin([c[1] for c in chosen])
                )
            scored = _score_arrow(base, sel_vecs)
            top = (
                scored.orderBy(F.col("_score").desc(), F.col("_id").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            chosen.append((rnd, top[0]["_id"], top[0]["_score"]))
            sel_vecs.append(list(top[0]["_qv"]))
            continue
        remaining = cands
        if chosen:
            # ≤k literal ids: a narrow NOT IN filter, never an anti-join
            # (whose broadcast side is one extra AQE job per round)
            remaining = remaining.filter(
                ~F.col("_id").isin([c[1] for c in chosen])
            )
            if len(sel_vecs) * len(qvec) <= lit_budget:
                # the ≤k selected vectors are DRIVER-SIDE literals (each
                # round's argmax row carries _qv home, below) —
                # redundancy is greatest() over ≤k literal integer dot
                # products inside ONE narrow projection.  No crossJoin,
                # no groupBy, and _qv rides the TakeOrderedAndProject,
                # so each round is exactly ONE job; the pre-r13 form ran
                # a second per-round qdf.filter().collect() just to
                # fetch the picked vector (VERDICT r12 #3).
                sims = [
                    _idot(
                        F.col("_qv"), F.array(*[F.lit(int(c)) for c in sv])
                    )
                    for sv in sel_vecs
                ]
                maxsim = sims[0] if len(sims) == 1 else F.greatest(*sims)
                scored = remaining.select(
                    "_id",
                    "_qv",
                    (
                        F.lit(lam_num) * F.col("_rel")
                        - F.lit(lam_den - lam_num) * maxsim
                    ).alias("_score"),
                )
            else:
                # BROADCAST form (past lit_budget): the selected set is
                # DATA — one row of array<array<bigint>> cross-joined
                # via broadcast nested-loop (build side = 1 row, no
                # shuffle); maxsim evaluates the same ≤k integer dot
                # products per candidate row, but the PLAN carries no
                # per-vector literals, so Catalyst analysis stays O(1)
                # per round at any k·dim.  Still exactly ONE job.
                sel_df = spark.createDataFrame(
                    [([list(sv) for sv in sel_vecs],)],
                    "_sels array<array<bigint>>",
                )
                maxsim = F.array_max(
                    F.transform(
                        F.col("_sels"),
                        lambda s: _idot(F.col("_qv"), s),
                    )
                )
                scored = remaining.crossJoin(F.broadcast(sel_df)).select(
                    "_id",
                    "_qv",
                    (
                        F.lit(lam_num) * F.col("_rel")
                        - F.lit(lam_den - lam_num) * maxsim
                    ).alias("_score"),
                )
        else:
            scored = remaining.select(
                "_id", "_qv", (F.lit(lam_num) * F.col("_rel")).alias("_score")
            )
        top = (
            scored.orderBy(F.col("_score").desc(), F.col("_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        picked_id, score = top[0]["_id"], top[0]["_score"]
        chosen.append((rnd, picked_id, score))
        sel_vecs.append(list(top[0]["_qv"]))
    return spark.createDataFrame(chosen, out_schema)


def mixture_plan(
    df: DataFrame,
    strata_col: str,
    weight_col,
    targets: dict,
    budget: int,
) -> DataFrame:
    """Corpus mixture planner: given per-stratum target SHARES (per
    mille, integers summing to <= 1000) and a total token ``budget``,
    compute each stratum's sampling rate — the allocation step of
    curriculum mixing ("webcrawl 55%, code 25%, reference 20% of a 2T
    token budget") that runs before the deterministic samplers above
    execute the plan (``stratified_hash_sample`` consumes rates like
    these).

    Returns one row per stratum present in BOTH the corpus and
    ``targets``: ``(stratum, actual, target, rate_ppm, planned)`` where
    ``actual`` = the stratum's available weight (tokens), ``target`` =
    budget·share/1000, ``rate_ppm`` = min(1e6, target·1e6 div actual) —
    a capped integer rate (an under-supplied stratum keeps everything;
    the plan cannot invent data), and ``planned`` = actual·rate_ppm div
    1e6, the weight the plan actually yields.  INTEGER-ONLY (div = floor
    division), so the plan is identical on any engine.

    A targeted stratum whose available weight sums to ZERO is dropped
    from the plan (``actual > 0`` filter before the division): there is
    nothing to sample from it, and dividing by it would yield a silent
    NULL rate under Spark's non-ANSI ``div`` while DuckDB's ``//``
    raises — a cross-engine split, not a plan.

    Shape: ONE map-side-combinable aggregate on the stratum key plus a
    broadcast of the (human-sized) target map; output is
    dimension-sized.  The planner is intentionally separate from the
    samplers: plans are audited/logged artifacts, execution is a filter.
    """
    assert budget >= 0 and targets
    assert all(isinstance(v, int) and v >= 0 for v in targets.values())
    assert sum(targets.values()) <= 1000
    spark = df.sparkSession
    w = (
        F.col(weight_col).cast("long")
        if isinstance(weight_col, str)
        else weight_col.cast("long")
    )
    actual = (
        df.select(F.col(strata_col).alias("stratum"), w.alias("_w"))
        .groupBy("stratum")
        .agg(F.sum("_w").alias("actual"))
    )
    # stratum type derives from df (the greedy_max_coverage lesson:
    # never hardcode a generic key parameter's type)
    stype = df.select(F.col(strata_col).alias("stratum")).schema[0].dataType
    tgt = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(targets.items())],
        T.StructType(
            [
                T.StructField("stratum", stype),
                T.StructField("share_permille", T.LongType()),
            ]
        ),
    )
    # TRUE integer division end-to-end (SQL `div`, never `/`+cast: the
    # double quotient can round ACROSS an integer before the cast
    # truncates, splitting from DuckDB's exact `//` floor)
    # actual == 0 would be a silent NULL rate on Spark's non-ANSI div
    # and a hard error on DuckDB's `//` — drop empty strata instead
    actual = actual.filter(F.col("actual") > 0)
    joined = actual.join(F.broadcast(tgt), "stratum").select(
        "stratum",
        "actual",
        F.expr(
            f"(CAST({int(budget)} AS BIGINT) * share_permille) div 1000"
        ).alias("target"),
    )
    return joined.withColumn(
        "rate_ppm",
        F.expr("least(CAST(1000000 AS BIGINT), (target * 1000000) div actual)"),
    ).withColumn("planned", F.expr("(actual * rate_ppm) div 1000000"))


def _hashed_gram_buckets(
    df: DataFrame, text_col: str, id_col: str, k: int, n_buckets: int
) -> DataFrame:
    """Hashed k-gram feature buckets, NON-distinct (counts matter for
    language-model features, unlike dedup's set semantics):
    :func:`functions.text.gram_array` occurrences hashed into
    ``portable_hash(gram) mod n_buckets``.  Emits (doc_id, b) one row
    per gram occurrence."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(gram_array(text_col, k)).alias("gram"),
        )
        .filter(F.col("gram") != "")
        .select("doc_id", (portable_hash("gram") % n_buckets).alias("b"))
    )


def dsir_importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    n_buckets: int = 4096,
    scale: int = 1_000_000,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS'23
    — DSIR): score every raw-corpus document by how much it looks like a
    small high-quality ``target`` set, under hashed k-gram bag-of-words
    language models:

        weight(doc) = Σ_grams  ln( p_target(bucket) / p_source(bucket) )

    with add-1-smoothed bucket unigram models p(b) = (c_b + 1) / (N + B).
    Documents with large weights are target-like; selection keeps the
    top slice (or Gumbel-resamples on the weights — out of scope here,
    the weights are the hard part).

    Cross-engine exactness (the cents discipline): the per-bucket
    log-ratio quantizes ONCE —
    ``lr_q(b) = round(ln( ((ct+1)/(cs+1)) · ((Ns+B)/(Nt+B)) ) · scale)``
    as BIGINT — so every document weight is an exact integer sum
    ``Σ_b count_doc(b) · lr_q(b)``; float sums (aggregation-order
    dependent) never happen.  The ratio-of-ratios form keeps every
    intermediate inside BIGINT/double range at ANY corpus size — the
    naive ``(ct+1)·(Ns+B)`` cross-product overflows BIGINT once the
    source corpus passes ~10¹⁸ token-pairs, silently on Spark and loudly
    on DuckDB (a cross-engine split, not a plan).  The two divisions,
    one multiply and one ``ln`` are correctly-rounded IEEE ops on
    identical doubles in identical order — deterministic cross-engine;
    the quantize-after-``ln`` boundary risk is AUDITED, not assumed:
    :func:`dsir_boundary_margin` (the BM25/TF-IDF seam-class treatment).

    Plan shape: two map-side-combinable bucket aggregates (target and
    source) + two single-row totals → a ``n_buckets``-row log-ratio
    dimension table, broadcast into one pass over the corpus grams →
    ONE doc-key shuffle for the weight sum.  Nothing doc-scale ever
    collects; the lr table is the only driver-sized artifact.  The
    corpus side streams once — at 100 TB this is a scan + broadcast
    join + one aggregation, the same shape as token counting.

    Returns (doc_id, n_feats, weight_micro), all BIGINT.
    """
    src_grams = _hashed_gram_buckets(corpus, text_col, id_col, k, n_buckets)
    tgt_grams = _hashed_gram_buckets(target, text_col, id_col, k, n_buckets)
    # the corpus grams feed the bucket aggregate AND the weight join —
    # persist so tokenize+md5 (the dominant cost, see SOAK.md's md5 tax)
    # runs once instead of per consumer (r16; spillable, released by the
    # session pool).  The target side is read once via the ct persist
    # below (r17).
    from pyspark import StorageLevel

    src_grams = pin(src_grams.persist(StorageLevel.MEMORY_AND_DISK))
    cs = src_grams.groupBy("b").agg(F.count("*").alias("cs"))
    # the ct aggregate feeds BOTH the nt total and the lr join, and
    # exchange reuse does not dedupe the subtree (r16 ADVICE: the target
    # was tokenized+hashed twice) — persist the ≤ n_buckets-row aggregate
    # so the target side is read once
    ct = pin(tgt_grams.groupBy("b").agg(F.count("*").alias("ct")).cache())
    # totals are the bucket-table sums — deriving them from the
    # n_buckets-row aggregates (identical BIGINTs by definition, r16)
    # removes one full corpus replay and one full target replay that
    # the separate count aggregates cost
    ns = cs.agg(F.coalesce(F.sum("cs"), F.lit(0)).alias("ns"))
    nt = ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    lr = (
        cs.join(ct, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nt))
        .select(
            "b",
            F.round(
                F.log(
                    ((F.col("ct") + F.lit(1)) / (F.col("cs") + F.lit(1)))
                    * (
                        (F.col("ns") + F.lit(n_buckets))
                        / (F.col("nt") + F.lit(n_buckets))
                    )
                )
                * F.lit(float(scale)),
                0,
            )
            .cast("long")
            .alias("lrq"),
        )
    )
    return (
        src_grams.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("lrq").alias("weight_micro"),
        )
    )


def dsir_boundary_margin(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
    n_buckets: int = 4096,
    scale: int = 1_000_000,
) -> float:
    """Cross-engine quantization audit for :func:`dsir_importance_weights`'
    ONE transcendental seam (the BM25 / TF-IDF seam-class treatment):
    the log-ratio quantizes ``round(x)`` with ``x = ln(...)·scale``
    (HALF_UP), so a 1-ulp engine disagreement on the ``ln`` flips a
    bucket's ``lr_q`` only if ``x`` sits within that ulp of a
    ``m + 0.5`` boundary.  The seam's entire input space is one ``x``
    per bucket (≤ n_buckets points) — this measures the minimum
    ``|frac(x) − 0.5|`` over exactly those points.  At these magnitudes
    (|x| ≤ ~35·scale) the worst 1-ulp perturbation is ~1e-8; tests pin
    the margin > 1e-6 on the driver corpora."""
    src_grams = _hashed_gram_buckets(corpus, text_col, id_col, k, n_buckets)
    tgt_grams = _hashed_gram_buckets(target, text_col, id_col, k, n_buckets)
    cs = src_grams.groupBy("b").agg(F.count("*").alias("cs"))
    ct = tgt_grams.groupBy("b").agg(F.count("*").alias("ct"))
    ns = src_grams.agg(F.count("*").alias("ns"))
    nt = tgt_grams.agg(F.count("*").alias("nt"))
    x = (
        F.log(
            ((F.col("ct") + F.lit(1)) / (F.col("cs") + F.lit(1)))
            * ((F.col("ns") + F.lit(n_buckets)) / (F.col("nt") + F.lit(n_buckets)))
        )
        * F.lit(float(scale))
    )
    fx = x - F.floor(x)
    row = (
        cs.join(ct, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nt))
        .select(F.abs(fx - F.lit(0.5)).alias("m"))
        .agg(F.min("m").alias("m"))
        .first()
    )
    return 0.5 if row["m"] is None else float(row["m"])


def stratified_bottom_k(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    portable: bool = True,
) -> DataFrame:
    """Per-stratum exact-size-k coordinated sample: within every stratum,
    the k rows with the smallest ``md5(id)`` (ties by id) — the
    group-wise form of :func:`bottom_k_sample`, for carving balanced
    eval sets ("5 held-out docs per language/source") with the same
    guarantees: deterministic across engines/reruns, COORDINATED across
    tables (same id domain ⇒ same picks), and nested under growth
    (bottom-5 ⊂ bottom-50 per stratum; a new document only displaces
    the largest key in ITS stratum).

    Shape: one stratum-key shuffle for the ranking window; Spark plans
    the ``row_number() <= k`` filter as a WindowGroupLimit (rank-limit
    pushdown), so each map task pre-trims to k rows per stratum BEFORE
    the exchange — the shuffle carries ≤ k·strata rows per task, never
    the full table (plan-asserted in tests).  No driver action at any
    size.

    Returns the sampled rows with a ``strat_rank`` column (1..k).

    ``portable=False``: the :func:`bottom_k_sample` xxhash64 fast path
    per stratum — same WindowGroupLimit plan, same nested/coordinated
    guarantees, no SQL oracle (r14 VERDICT #5).
    """
    if portable:
        key = F.md5(F.col(id_col).cast("string"))
    else:
        key = F.pmod(
            F.xxhash64(F.col(id_col).cast("string")), F.lit(1 << 32)
        )
    w = W.partitionBy(strata_col).orderBy(key.asc(), F.col(id_col).asc())
    return df.withColumn("strat_rank", F.row_number().over(w)).filter(
        F.col("strat_rank") <= k
    )


def cluster_balanced_sample(
    df: DataFrame,
    k_per_cluster: int,
    centroids: DataFrame | None = None,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced coreset sampling over an embedding corpus: assign
    every vector to its nearest centroid (:func:`ivf_assign` — one
    broadcast-centroid narrow stage, no corpus shuffle), then take the
    per-cluster bottom-k by hashed id (:func:`stratified_bottom_k`) —
    the prototype-balanced curation shape (SemDeDup/DoReMi-adjacent):
    a diverse subset that covers every region of embedding space instead
    of oversampling the dense head, with the coordinated/nested/
    deterministic guarantees of every bottom-k sampler here.

    ``centroids`` defaults to the deterministic first-``n_centroids``
    corpus vectors by id (the IVF family's SQL-reproducible twin; pass
    ``ivf_train`` output for production balance).

    Plan shape: the assignment is a broadcast nested-loop over a
    DIMENSION-sized centroid table + one map-side-combinable argmax
    aggregate; the sampler is one cluster-key window whose
    ``row_number <= k`` plans as WindowGroupLimit (map tasks pre-trim to
    k·clusters rows before the exchange).  No driver action.

    Returns ``(centroid_id, id_col, strat_rank)``.
    """
    from radohydro_spark.operators.similarity import ivf_assign

    if centroids is None:
        centroids = (
            df.orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("centroid_id"), F.col(vec_col))
        )
    assigned = ivf_assign(df, centroids, vec_col, id_col)
    return stratified_bottom_k(
        assigned, id_col=id_col, strata_col="centroid_id", k=k_per_cluster
    ).select("centroid_id", id_col, "strat_rank")


def temperature_shares(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    alpha_exp2: int = 1,
    total_mille: int = 1000,
) -> DataFrame:
    """Temperature-scaled mixture shares (the mT5/multilingual-LM
    sampling law, Xue et al. NAACL'21 / Arivazhagan et al. '19):
    ``share_i ∝ w_i^α`` with α < 1 flattening the head so low-resource
    strata are over-sampled relative to their raw mass — the standard
    step BEFORE :func:`mixture_plan` turns shares into rates.

    EXACT cross-engine with NO margin audit, unlike every ln-based op
    here: α is restricted to ``2^-alpha_exp2`` (1, 1/2, 1/4, ...) so the
    power is a chain of IEEE ``sqrt`` calls — sqrt is CORRECTLY ROUNDED
    by IEEE-754 (ln is not), so both engines produce bit-identical
    doubles for any input and the one quantization
    ``round(w^α · 10⁶)`` can never split.  The α = 1 identity skips the
    quantization entirely (integer weights are already exact — and
    ``round(w·10⁶)`` would overflow the BIGINT cast at ~9.3e12, far
    below the operating range; r13 review).  TWO in-plan caps guard the
    integer domain loudly (r13 review + r14 ADVICE): per-stratum weight
    ≤ 2^53 (past that the double cast itself is inexact), AND
    ``scaled_micro ≤ (2^63−1) div total_mille`` so the apportionment
    numerator ``total_mille·scaled_micro`` can never overflow BIGINT —
    the second cap folds ``total_mille`` in, so an α = 1 run with
    near-2^53 weights and total_mille > ~1000 fails with THIS
    operator's named message, never an opaque ANSI
    ARITHMETIC_OVERFLOW.  Both are two orders past a 100-TB corpus at
    the default granularity: loud contracts, not limitations.

    Shares are apportioned by LARGEST REMAINDER so they sum to exactly
    ``total_mille``: ``base_i = T·s_i div S``, and the ``T - Σ base``
    leftover units go to the largest ``(T·s_i) mod S`` (ties → stratum
    asc) — integer arithmetic end-to-end, deterministic on any engine.

    Shape: ONE map-side-combinable stratum aggregate over the corpus,
    cached (the totals and the remainder apportionment would otherwise
    each re-root the corpus scan; the cached relation is
    dimension-sized, so everything after is trivial); broadcast totals
    and one declared-bounded global window for the remainder ranking —
    cap-asserted via plans/contracts.  Returns
    ``(stratum, actual, scaled_micro, share_mille)``
    (``scaled_micro`` = the raw BIGINT weight when α = 1).
    """
    assert 0 <= alpha_exp2 <= 4 and total_mille >= 0
    from radohydro_spark.plans.contracts import bounded_global

    _W_CAP = 1 << 53  # exact-double-cast bound; loud in-plan contract
    actual = (
        df.select(
            F.col(strata_col).alias("stratum"),
            F.col(weight_col).cast("long").alias("_w"),
        )
        .groupBy("stratum")
        .agg(F.sum("_w").alias("actual"))
        .filter(F.col("actual") > 0)
    )
    if alpha_exp2 == 0:
        s_long = F.col("actual")
    else:
        s = F.col("actual").cast("double")
        for _ in range(alpha_exp2):
            s = F.sqrt(s)
        s_long = F.round(s * F.lit(1e6), 0).cast("long")
    # the apportionment numerator is total_mille·scaled_micro — fold
    # total_mille into the cap so it can never overflow BIGINT (r14
    # ADVICE: with α=1 and weights near 2^53, total_mille > ~1000
    # previously surfaced as an opaque ANSI overflow)
    _NUM_CAP = ((1 << 63) - 1) // max(int(total_mille), 1)
    guard = (F.col("actual") <= F.lit(_W_CAP)) & (
        s_long <= F.lit(min(_W_CAP, _NUM_CAP))
    )
    scaled = pin(
        actual.withColumn(
            "scaled_micro",
            F.when(guard, s_long).otherwise(
                F.assert_true(
                    guard,
                    F.lit(
                        "temperature_shares: per-stratum weight exceeds 2^53 "
                        "or scaled_micro exceeds (2^63-1) div total_mille — "
                        "the double cast or the total_mille*scaled_micro "
                        "apportionment numerator is no longer exact; "
                        "pre-scale the weight column (e.g. kilotokens)"
                    ),
                ).cast("long")
            ),
        ).cache()
    )
    tot = scaled.agg(F.sum("scaled_micro").alias("_s_tot"))
    t = F.lit(int(total_mille)).cast("long")
    parts = (
        scaled.crossJoin(F.broadcast(tot))
        .withColumn("_num", t * F.col("scaled_micro"))
        .withColumn("base", F.expr("_num div _s_tot"))
        .withColumn("_rem", F.expr("_num % _s_tot"))
    )
    base_tot = parts.agg(F.sum("base").alias("_b_tot"))
    rank = bounded_global(
        F.row_number(),
        lambda w: w.orderBy(F.desc("_rem"), F.asc("stratum")),
        "int",
        "temperature_shares",
        cap=1_000_000,
    )
    return (
        parts.crossJoin(F.broadcast(base_tot))
        .withColumn("_rank", rank)
        .select(
            "stratum",
            "actual",
            "scaled_micro",
            (
                F.col("base")
                + F.when(
                    F.col("_rank") <= t - F.col("_b_tot"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("share_mille"),
        )
    )
