"""Frequency sketches with exact verification — the two-pass heavy-hitter
pattern that makes "find the hot keys" feasible at 100 TB.

A single ``GROUP BY key`` over a high-cardinality column shuffles every
distinct key; when you only need the keys above a frequency threshold,
that shuffle is almost entirely wasted.  The classical fix (Misra & Gries
1982; Agarwal et al., "Mergeable Summaries", PODS 2012) is:

* **Pass 1 — candidates.**  Stream each partition through a Misra-Gries
  summary of ``k`` counters.  MG keeps every value whose *local* frequency
  share exceeds ``1/(k+1)``; by pigeonhole, a value with *global* share
  ``>= 1/k`` has at least that share in some partition, so the union of
  per-partition survivors is a guaranteed SUPERSET of the true heavy
  hitters — never a miss, only (bounded) false candidates.  The summary
  is dimension-sized: at most ``k`` values per partition.
* **Pass 2 — exact verify.**  Broadcast the candidate set back onto the
  fact table as a semi-join filter and count exactly — the aggregation now
  touches only candidate keys, so its shuffle carries at most
  ``k x n_partitions`` groups instead of every distinct value.

The threshold is integer-exact: a value is heavy iff
``cnt * threshold_inverse >= N`` (phi = 1/threshold_inverse), so the
result is bit-identical on any engine — no float threshold, no rounding
seam (see the repo's cross-engine float discipline).

Reference scope note: the reference engine (radohydro.py) has no
frequency-analysis surface; this operator is part of the LLM-pipeline
extension set (vocabulary pruning, hot-key diagnosis before salted joins —
see operators/skew.py for what to do with the keys it finds).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radohydro_spark.session import pin


def _misra_gries_partitions(col: str, k: int):
    """mapInPandas body: one MG summary per partition.

    Emits (value, n) rows: each surviving candidate with n=0, plus ONE
    null-valued row carrying the partition's row count, so a single pass
    yields both the candidate superset and the exact total N.  NULLs in
    the data column are ignored (they are not a "value"; pandas
    ``value_counts`` drops them, and the count row is distinguishable
    because its value is null by construction).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_rows = 0
        for pdf in batches:
            s = pdf[col]
            n_rows += len(s)
            vc = s.value_counts(dropna=True)
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                # mergeable-summaries decrement: subtract the (k+1)-th
                # largest count from everything, drop the non-positive.
                # Error added is <= that count, keeping total MG error
                # under n_partition/(k+1) — the superset guarantee.
                delta = sorted(counters.values(), reverse=True)[k]
                counters = {
                    v: c - delta for v, c in counters.items() if c - delta > 0
                }
        out = pd.DataFrame(
            {"value": list(counters.keys()), "n": [0] * len(counters)}
        )
        total = pd.DataFrame({"value": [None], "n": [n_rows]})
        yield pd.concat([out, total], ignore_index=True)

    return fn


def heavy_hitters(
    df: DataFrame,
    col: str,
    threshold_inverse: int,
    counters: int | None = None,
) -> DataFrame:
    """Exact phi-heavy hitters (phi = 1/threshold_inverse), two passes.

    Returns ``(value, cnt)`` for every value of ``col`` whose exact count
    satisfies ``cnt * threshold_inverse >= N`` (N = non-null row count).
    ``counters`` (default ``threshold_inverse``) is the per-partition
    Misra-Gries budget; it must be >= threshold_inverse for the
    no-false-negative guarantee and only trades candidate-set size for
    memory above that.

    Scale shape: pass 1 is map-only (no shuffle) and its output is
    dimension-sized (<= counters x n_partitions candidate rows), so the
    summary frame is persisted and consumed twice (candidates + N)
    without re-scanning the fact.  Pass 2's aggregation is pre-filtered
    by a broadcast semi-join on the candidates, so its exchange carries
    only candidate groups.  Total: two scans of the fact, one map-side-
    combined shuffle over candidate keys only — vs one scan + a shuffle
    over EVERY distinct key for the naive GROUP BY/HAVING.
    """
    assert threshold_inverse >= 1
    k = counters if counters is not None else threshold_inverse
    assert k >= threshold_inverse, "counters < threshold_inverse loses the superset guarantee"

    vals = df.select(F.col(col).alias("value")).filter(F.col("value").isNotNull())
    vtype = vals.schema["value"].dataType.simpleString()
    summary = pin(
        vals.mapInPandas(
            _misra_gries_partitions("value", k), schema=f"value {vtype}, n long"
        ).persist()
    )

    total = summary.agg(F.sum("n").alias("n_total"))
    cand = summary.filter(F.col("value").isNotNull()).select("value").distinct()
    return (
        vals.join(F.broadcast(cand), "value", "leftsemi")
        .groupBy("value")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(threshold_inverse) >= F.col("n_total"))
        .select("value", "cnt")
    )


def _stride_sample_partitions(col: str, stride: int):
    """mapInPandas body: sort each partition's values and emit every
    ``stride``-th one (plus the partition max) as a candidate, with one
    null-valued row carrying the partition's non-null count."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        chunks = [b[col].dropna().to_numpy() for b in batches]
        vals = np.concatenate(chunks) if chunks else np.empty(0)
        vals.sort(kind="stable")
        n = len(vals)
        picks = vals[::stride] if n else vals
        out = {"value": list(picks), "n": [0] * len(picks)}
        if n:
            out["value"].append(vals[-1])
            out["n"].append(0)
        out["value"].append(None)
        out["n"].append(n)
        yield pd.DataFrame(out)

    return fn


def _interval_histogram(col: str, cands):
    """mapInPandas body: per-partition histogram of values over the
    sorted candidate boundaries (vectorized searchsorted; bin i counts
    rows <= cands[i] and > cands[i-1])."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        arr = np.asarray(cands)
        totals = np.zeros(len(arr) + 1, dtype="int64")
        for pdf in batches:
            v = pdf[col].dropna().to_numpy()
            if len(v):
                idx = np.searchsorted(arr, v, side="left")
                totals += np.bincount(idx, minlength=len(arr) + 1)
        nz = np.nonzero(totals)[0]
        yield pd.DataFrame({"bin": nz, "cnt": totals[nz]})

    return fn


def exact_quantiles(
    df: DataFrame,
    col: str,
    fractions: list[tuple[int, int]],
    sample_stride: int = 1000,
) -> DataFrame:
    """EXACT type-1 quantiles (percentile_disc semantics: the smallest
    value v with count(x <= v) >= ceil(phi*N)) with BOUNDED memory — the
    scale-safe counterpart of Spark's ``percentile`` aggregate, which
    buffers every value of a group in executor memory and dies on a
    single giant group.

    ``fractions`` are integer pairs (num, den), phi = num/den; the target
    rank is the pure-integer ``rank*den >= N*num`` ceiling — no float
    threshold, so any ANSI engine reproduces the selection bit-for-bit
    (the returned value is an INPUT value, never an interpolation).

    Three bounded passes (the candidate/verify paradigm of
    :func:`heavy_hitters`, here for rank selection):

    1. Per-partition sort + every ``sample_stride``-th value as a
       candidate (mapInPandas, partition-sized memory — the same
       contract as any Spark sort).  Between two adjacent global
       candidates every partition has < stride rows, so every candidate
       gap spans < stride x n_partitions global ranks: a guaranteed
       bracketing grid.
    2. One vectorized histogram pass (np.searchsorted per Arrow batch)
       counts rows per candidate interval; the driver cumulates the
       dimension-sized histogram and brackets each target rank.
    3. Rows inside the (few) bracketing intervals — < stride x
       n_partitions each by construction — are collected in ONE
       union-of-ranges filter scan (not one scan per fraction) and each
       exact rank picked with a partial sort.  The collect is bounded by the
       stride choice, not the data (stride 1000 x 1000 executors = 1M
       values = 8 MB), the same dimension-sized-action contract as the
       PQ codebook / IVF centroid collects.

    Returns ``(num, den, value)``, one row per fraction.
    """
    assert fractions and all(1 <= num <= den for num, den in fractions)
    spark = df.sparkSession
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    vtype = vals.schema["v"].dataType.simpleString()
    summary = vals.mapInPandas(
        _stride_sample_partitions("v", sample_stride),
        schema=f"value {vtype}, n long",
    ).collect()
    n_total = sum(r["n"] for r in summary if r["value"] is None)
    if n_total == 0:
        return spark.createDataFrame([], f"num long, den long, value {vtype}")
    cands = sorted({r["value"] for r in summary if r["value"] is not None})

    hist = (
        vals.mapInPandas(
            _interval_histogram("v", cands), schema="bin long, cnt long"
        )
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    counts = [0] * (len(cands) + 1)
    for r in hist:
        counts[r["bin"]] = r["cnt"]
    # cum[i] = rows with value < cands[i]  (searchsorted side='left')
    cum = [0] * (len(cands) + 1)
    for i in range(1, len(cands) + 1):
        cum[i] = cum[i - 1] + counts[i - 1]

    # Bracket every fraction first, then resolve ALL of them from ONE
    # union-filter scan + collect (pass 3 stays a single fact scan no
    # matter how many fractions are requested — previously one scan per
    # fraction, 5 extra scans for the pinned 5-fraction query).
    brackets = []
    for num, den in fractions:
        # target: smallest v with count(x <= v) >= ceil(N*num/den);
        # all rank arithmetic in pure integers (ceil via negative floor)
        rank = -(-(n_total * num) // den)
        # cum[i+1] = count(x <= cands[i]); the smallest bracketing index
        # i has cum[i+1] >= rank > cum[i], so the answer lies in
        # (cands[i-1], cands[i]]
        lo_idx = None
        for i in range(len(cands)):
            if cum[i + 1] >= rank:
                lo_idx = i
                break
        assert lo_idx is not None  # cum[-1] == n_total >= rank
        brackets.append((num, den, rank, lo_idx))

    # Collect the OPEN intervals only: rows strictly between adjacent
    # candidates are < stride x n_partitions each by the bracketing
    # argument, but rows EQUAL to the boundary value hi can be an
    # unbounded duplicate run (a hot value) — never collect those; if
    # the target rank lands past the open interval, the answer is hi
    # itself (every remaining rank up to cum[lo_idx+1] is a duplicate
    # of hi).  Distinct intervals are disjoint, so one OR-of-ranges
    # filter + one collect serves every fraction; each collected value
    # is re-assigned to its interval driver-side.
    interval_ids = sorted({b[3] for b in brackets})
    cond = None
    for i in interval_ids:
        lo = cands[i - 1] if i > 0 else None
        hi = cands[i]
        c = F.col("v") < F.lit(hi)
        if lo is not None:
            c = c & (F.col("v") > F.lit(lo))
        cond = c if cond is None else (cond | c)
    pooled = [r["v"] for r in vals.filter(cond).collect()]
    inside_by_interval = {}
    for i in interval_ids:
        lo = cands[i - 1] if i > 0 else None
        hi = cands[i]
        inside = [
            v for v in pooled if v < hi and (lo is None or v > lo)
        ]
        inside.sort()
        inside_by_interval[i] = inside

    out_rows = []
    for num, den, rank, lo_idx in brackets:
        inside = inside_by_interval[lo_idx]
        hi = cands[lo_idx]
        # rank within the interval: global rank minus rows at or below lo
        k = rank - cum[lo_idx] - 1
        assert 0 <= k
        out_rows.append((num, den, inside[k] if k < len(inside) else hi))
    return spark.createDataFrame(out_rows, f"num long, den long, value {vtype}")


def count_min_table(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch BUILD (Cormode & Muthukrishnan, J.Alg 2005):
    ``depth`` hash rows × ``width`` counters summarizing the frequency
    of every key in bounded space — the mergeable point-query sibling
    of :func:`heavy_hitters` (MG answers "which keys are hot",
    CM answers "how often is THIS key", with a one-sided
    ``est ≥ true`` guarantee and ``est ≤ true + εN`` w.h.p. at
    ``width = ⌈e/ε⌉``).

    DETERMINISTIC cross-engine: row ``d``'s hash is
    ``portable_hash(d || ':' || key) mod width`` (the md5-prefix hash
    every coordinated sampler here uses), so the sketch — and every
    estimate — is bit-identical on any engine and replayable in SQL.

    Plan shape: one ``explode(sequence(0, depth−1))`` projection and
    ONE map-side-combinable aggregate whose output is ≤ depth·width
    rows REGARDLESS of input size — the shuffle carries at most
    depth·width partial counters per task, never the key domain.  The
    sketch is a broadcastable dimension table by construction; merging
    two corpora's sketches is summing counters (same groupBy).

    Returns ``(d, bucket, n)``.

    Reference analog: none — extends the sketch family
    (SURVEY §2 extension table).
    """
    assert depth >= 1 and width >= 1
    from radohydro_spark.functions.text import portable_hash

    rows = df.select(F.col(key_col).cast("string").alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    exploded = rows.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"), "_k"
    )
    bucket = F.pmod(
        portable_hash(
            F.concat(F.col("d").cast("string"), F.lit(":"), F.col("_k"))
        ),
        F.lit(width),
    ).cast("int")
    return (
        exploded.select("d", bucket.alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("n"))
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query a :func:`count_min_table` sketch for every key in
    ``keys`` (a dimension-sized relation): estimate =
    ``min_d sketch[d][h_d(key)]``, 0 for a key hashing to an untouched
    counter.  The sketch (≤ depth·width rows) broadcasts; the query is
    a broadcast left join + one key-grouped min — no corpus access at
    all, which is the point: at 100 TB the sketch is built once in the
    ingest pass and every later "how frequent is X?" costs nothing.

    Returns ``(<key_col>, cms_n)`` with the one-sided
    ``cms_n ≥ true count`` guarantee."""
    from radohydro_spark.functions.text import portable_hash

    k = keys.select(F.col(key_col)).withColumn(
        "_k", F.col(key_col).cast("string")
    )
    q = k.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
        F.pmod(
            portable_hash(
                F.concat(F.col("d").cast("string"), F.lit(":"), F.col("_k"))
            ),
            F.lit(width),
        )
        .cast("int")
        .alias("bucket"),
    )
    return (
        q.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_n"))
    )


def bloom_table(
    df: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter BUILD (Bloom, CACM 1970; distinct from operators/bloom.py's driver-collected xxhash64 join-prefilter — THIS form is engine-portable, mergeable and SQL-replayable) — the set-MEMBERSHIP
    sibling of :func:`count_min_table` (CM answers "how often", Bloom
    answers "was this key EVER present" in ``num_bits`` bits with a
    one-sided guarantee: no false negatives, false-positive rate
    ``(1 − e^{−kn/m})^k``).  The canonical 100 TB use: build once over
    a join key's domain in the ingest pass, then broadcast it as a
    pre-filter so later scans skip rows that cannot match
    (operators/joins.py's bloom-prefilter join does exactly this with
    Spark's native BloomFilter; THIS build is the engine-portable,
    SQL-replayable form with a verified contract).

    DETERMINISTIC cross-engine: hash ``j``'s bit position is
    ``portable_hash(j || ':' || key) mod num_bits`` (the md5-prefix
    hash every coordinated sketch here uses).  The bit array is stored
    as ``num_bits/32`` BIGINT words holding 32-BIT LANES
    (``word = pos div 32``, ``mask = 1 << (pos mod 32)``) — masks stay
    below 2^32, so no shift ever touches the sign bit and DuckDB's
    checked BIGINT ``<<`` can never range-error on the oracle side.

    Plan shape: one ``explode(sequence(0, k−1))`` projection and ONE
    map-side-combinable ``bit_or`` aggregate whose output is
    ≤ num_bits/32 rows REGARDLESS of input size.  Broadcastable by
    construction; merging two corpora's filters is ``bit_or`` of their
    word tables (same groupBy).

    Returns ``(word, bits)`` — only touched words appear (an absent
    word is all-zero).

    Reference analog: none — extends the sketch family
    (SURVEY §2 extension table).
    """
    assert num_hashes >= 1 and num_bits >= 32 and num_bits % 32 == 0
    from radohydro_spark.functions.text import portable_hash

    rows = df.select(F.col(key_col).cast("string").alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    exploded = rows.select(
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("j"),
        "_k",
    )
    pos = F.pmod(
        portable_hash(
            F.concat(F.col("j").cast("string"), F.lit(":"), F.col("_k"))
        ),
        F.lit(num_bits),
    )
    return (
        exploded.select(
            (pos / F.lit(32)).cast("int").alias("word"),
            # shiftleft's Python signature wants a literal int shift;
            # call_function resolves the SQL builtin taking a column
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(pos, F.lit(32)).cast("int"),
            ).alias("_mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def bloom_membership(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    num_bits: int = 4096,
    num_hashes: int = 4,
) -> DataFrame:
    """Membership-query a :func:`bloom_table` filter for every key in
    ``keys``: hit iff ALL ``num_hashes`` bit positions are set (an
    absent word is all-zero).  The word table (≤ num_bits/32 rows)
    broadcasts; the probe is a broadcast left join + one key-grouped
    min — no corpus access at all.

    Returns ``(<key_col>, bloom_hit)`` with the one-sided guarantee:
    ``bloom_hit = 1`` for every key that was in the build input
    (never a false negative); a hit for an absent key is a
    false positive whose rate shrinks with ``num_bits``."""
    from radohydro_spark.functions.text import portable_hash

    k = keys.select(F.col(key_col)).withColumn(
        "_k", F.col(key_col).cast("string")
    )
    pos = F.pmod(
        portable_hash(
            F.concat(F.col("j").cast("string"), F.lit(":"), F.col("_k"))
        ),
        F.lit(num_bits),
    )
    q = k.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("j"),
        "_k",
    ).select(
        key_col,
        (pos / F.lit(32)).cast("int").alias("word"),
        F.pmod(pos, F.lit(32)).cast("int").alias("_bit"),
    )
    hit_j = F.pmod(
        F.call_function(
            "shiftright", F.coalesce(F.col("bits"), F.lit(0)), F.col("_bit")
        ),
        F.lit(2),
    )
    return (
        q.join(F.broadcast(sketch), ["word"], "left")
        .groupBy(key_col)
        # a NULL probe key hashes to NULL positions: the build side
        # excludes NULL keys, so the one-sided answer is 0 (definitely
        # absent), never NULL (r14 review)
        .agg(
            F.min(F.coalesce(hit_j, F.lit(0))).cast("int").alias("bloom_hit")
        )
    )


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    k: int = 256,
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k, a.k.a. the theta-sketch core;
    Bar-Yossef et al., RANDOM 2002; Beyer et al., SIGMOD 2007) — the
    DISTINCT-CARDINALITY-AND-OVERLAP sibling of the sketch family:
    Count-Min answers "how often", Bloom answers "was it present",
    KMV answers "how many distinct — and how many SHARED with that
    other corpus" from two k-row summaries, which neither CM nor HLL
    supports (HLL unions but cannot intersect without
    inclusion-exclusion error blowup).  The canonical LLM-pipeline
    use: estimate vocabulary / shard overlap between two corpus drops
    without ever joining them.

    The sketch is simply the ``k`` SMALLEST ``portable_hash`` values
    of the key domain — deterministic cross-engine, order-insensitive,
    and MERGEABLE (union = bottom-k of the concatenation).  Distinct
    keys colliding to one 32-bit hash merge (the standard KMV caveat,
    ~n²/2³³ expected collisions — immaterial below ~10⁶ distinct).

    Plan shape — the streaming-KMV design, NOT a global distinct: a
    naive ``distinct().orderBy(hv).limit(k)`` shuffles the ENTIRE hash
    domain (measured linear: 27 → 277 MB at 10× input in the r14
    soak — exactly the count-distinct cost KMV exists to avoid).
    Instead each partition maintains a running ≤ k-row bottom-k
    candidate set across its Arrow batches (one vectorized
    ``mapInPandas`` pass; the per-partition bottom-k union is a
    guaranteed superset of the global bottom-k — every global winner
    is also a winner in its own partition), then the global
    distinct + ``orderBy(hv).limit(k)`` (TakeOrderedAndProject:
    per-partition heaps + a k-row driver merge, never a global sort)
    runs on ≤ k·n_partitions candidate rows.  Shuffle is
    dimension-bounded regardless of key-domain size.

    Returns ``(hv)`` — ascending-unique 32-bit hash values.

    Reference analog: none — extends the sketch family
    (SURVEY §2 extension table).
    """
    assert k >= 2
    from radohydro_spark.functions.text import portable_hash

    hashed = df.filter(F.col(key_col).isNotNull()).select(
        portable_hash(F.col(key_col).cast("string")).alias("hv")
    )

    def _prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        best: "np.ndarray | None" = None
        for pdf in batches:
            vals = pdf["hv"].to_numpy()
            cand = np.unique(
                vals if best is None else np.concatenate([best, vals])
            )
            best = cand[:k]
        yield pd.DataFrame(
            {"hv": best if best is not None else np.array([], dtype="int64")}
        )

    candidates = hashed.mapInPandas(_prune, "hv long")
    return candidates.distinct().orderBy("hv").limit(k)


def kmv_overlap(
    sk_a: DataFrame,
    sk_b: DataFrame,
    k: int,
) -> DataFrame:
    """Estimate distinct-union, distinct-intersection and Jaccard of
    two key sets from their :func:`kmv_sketch` summaries alone (Beyer
    et al., SIGMOD 2007): the union sketch is the bottom-k of the
    merged hash sets with threshold ``theta`` = its largest retained
    hash; every estimate is then a pure-BIGINT expression of three
    tiny counters —

    * ``union_est = (k−1)·2³² div theta`` (the classic KMV estimator;
      EXACT ``n_union`` when fewer than k distinct hashes exist, i.e.
      the sketch saw everything),
    * ``inter_est = n_common · union_est div n_union_sketch`` (the
      fraction of the union sketch present in BOTH sketches scales the
      union estimate),
    * ``jaccard_ppm = 10⁶·n_common div n_union_sketch``.

    All divisions are terminal floored BIGINT ops, so the result is
    bit-identical in SQL.  The whole computation touches only the two
    ≤ k-row sketches — at 100 TB the corpora are never rejoined.

    Overflow contract (r14 ADVICE): ``inter_est``'s intermediate
    ``n_common·union_est`` is bounded by ``k·(k−1)·2³²``, so ``k`` must
    satisfy ``k·(k−1) < 2³¹`` (k ≤ 46340) — enforced by a named
    ValueError; a 46k-row sketch already estimates within ~0.5%
    (1/√k), so the ceiling costs nothing in practice.

    Returns ONE row ``(n_a, n_b, theta, n_union_sketch, n_common,
    union_est, inter_est, jaccard_ppm)``; empty sketches yield the
    all-NULL estimate columns."""
    if k < 2 or k * (k - 1) >= (1 << 31):
        raise ValueError(
            f"kmv_overlap: k = {k} outside the exact-BIGINT estimator "
            "domain (2 <= k <= 46340: the inter_est intermediate "
            "n_common*union_est <= k*(k-1)*2^32 must stay below 2^63) "
            "(operators/sketch.py)"
        )
    a = sk_a.select(F.col("hv").alias("hv"), F.lit(1).alias("_ina"))
    b = sk_b.select(F.col("hv").alias("hv"), F.lit(1).alias("_inb"))
    u = (
        sk_a.select("hv")
        .union(sk_b.select("hv"))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )
    flagged = (
        u.join(F.broadcast(a), "hv", "left")
        .join(F.broadcast(b), "hv", "left")
        .agg(
            F.count("*").alias("n_union_sketch"),
            F.max("hv").alias("theta"),
            F.sum(
                F.coalesce(F.col("_ina"), F.lit(0))
                * F.coalesce(F.col("_inb"), F.lit(0))
            ).alias("n_common"),
        )
    )
    n_a = sk_a.agg(F.count("*").alias("n_a"))
    n_b = sk_b.agg(F.count("*").alias("n_b"))
    dom = (1 << 32) * (k - 1)
    union_est = F.when(
        F.col("n_union_sketch") < F.lit(k), F.col("n_union_sketch")
    ).otherwise(
        F.expr(f"{dom} div nullif(theta, 0)")
    )
    out = flagged.crossJoin(n_a).crossJoin(n_b).select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("theta").cast("long").alias("theta"),
        F.col("n_union_sketch").cast("long").alias("n_union_sketch"),
        F.col("n_common").cast("long").alias("n_common"),
        union_est.cast("long").alias("union_est"),
    )
    return out.select(
        "*",
        F.expr(
            "CAST((n_common * union_est) div nullif(n_union_sketch, 0)"
            " AS BIGINT)"
        ).alias("inter_est"),
        F.expr(
            "CAST((1000000 * n_common) div nullif(n_union_sketch, 0)"
            " AS BIGINT)"
        ).alias("jaccard_ppm"),
    )


def kmv_by(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Per-GROUP KMV bottom-k distinct sketch — :func:`kmv_sketch`'s
    segmented form: one mergeable distinct-cardinality summary per
    language / source / event type, the shape ingest monitoring
    actually needs ("how many distinct users per event type per drop",
    "vocabulary size per language") where a single global sketch
    averages the segments away.  Same deterministic ``portable_hash``
    law (first 8 hex chars of md5, base-16), so slices are EXACTLY
    reproducible cross-engine and two drops' per-group sketches feed
    :func:`kmv_overlap` group-by-group without re-reading either
    corpus.

    Plan shape — the kmv_sketch scale design, segmented: each
    partition maintains a running ≤ k-row bottom-k candidate set PER
    GROUP across its Arrow batches (one vectorized ``mapInPandas``
    pass; every global per-group winner also wins in its own
    partition, so the union of per-partition survivors is a guaranteed
    superset), then the global distinct + per-group
    ``row_number ≤ k`` runs on ≤ |groups|·k·n_partitions candidate
    rows.  A naive ``distinct`` would shuffle the ENTIRE (group, hash)
    domain — the count-distinct cost this sketch exists to avoid.
    The window's sort is bounded at k·n_partitions rows per group.

    Rows with a NULL group key or key are EXCLUDED (the family
    convention).  Distinct keys colliding to one 32-bit hash merge
    within a group (the standard KMV caveat, ~n²/2³³ per group).

    Returns ``(<group_cols>, hv)`` — ≤ k ascending-unique hash values
    per group.

    Reference analog: none — extends the sketch family
    (SURVEY §2 extension table).
    """
    assert k >= 2
    from pyspark.sql import Window as W

    from radohydro_spark.functions.text import portable_hash

    keep = F.col(key_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    hashed = df.filter(keep).select(
        *group_cols,
        portable_hash(F.col(key_col).cast("string")).alias("hv"),
    )

    def _prune(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: "pd.DataFrame | None" = None
        for pdf in batches:
            cand = pdf if best is None else pd.concat([best, pdf])
            cand = cand.drop_duplicates()
            cand = cand.sort_values("hv", kind="mergesort")
            best = cand.groupby(list(group_cols), sort=False).head(k)
        yield best if best is not None else pd.DataFrame(
            {c: [] for c in list(group_cols) + ["hv"]}
        )

    candidates = hashed.mapInPandas(_prune, hashed.schema)
    w = W.partitionBy(*group_cols).orderBy("hv")
    return (
        candidates.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate_by(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-cardinality estimate from the
    :func:`kmv_by` sketch (Bar-Yossef et al. 2002; Beyer et al. 2007):
    with ``theta`` = the k-th smallest hash of a group,
    ``distinct_est = (k−1)·2³² div theta`` — EXACT (= the true
    distinct-hash count) whenever the group held fewer than k distinct
    hashes, i.e. the sketch saw everything.  All arithmetic is
    terminal floored BIGINT (``(k−1)·2³² < 2^63`` for any practical
    k), so the estimate is bit-identical in SQL.

    The whole computation touches only the ≤ |groups|·k sketch rows;
    the corpus is read once by the sketch pass.  This is the
    per-group twin of the ``approx_count_distinct`` shape with a
    deterministic, mergeable, oracle-checkable law.

    Returns one row per group: ``(<group_cols>, n_sketch, theta,
    distinct_est)`` where ``n_sketch = min(k, distinct hashes)``.

    Reference analog: none — extends the sketch family
    (SURVEY §2 extension table).
    """
    sk = kmv_by(df, key_col, group_cols, k)
    dom = (1 << 32) * (k - 1)
    est = F.when(
        F.col("n_sketch") < F.lit(k), F.col("n_sketch")
    ).otherwise(F.expr(f"{dom} div nullif(theta, 0)"))
    return (
        sk.groupBy(*group_cols)
        .agg(
            F.count("*").alias("n_sketch"),
            F.max("hv").alias("theta"),
        )
        .select(
            *group_cols,
            F.col("n_sketch").cast("long").alias("n_sketch"),
            F.col("theta").cast("long").alias("theta"),
            est.cast("long").alias("distinct_est"),
        )
    )


def heavy_hitters_by(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """EXACT per-group top-k most frequent values with frequency
    shares — the segmented twin of :func:`heavy_hitters`: the global
    form exists for the single high-cardinality column where only a
    Misra-Gries candidate pass makes the count feasible; the per-group
    form is the MONITORING shape ("top sources per language", "top
    error codes per service") where the (group, value) domain is
    category-sized and an exact count aggregate is the right plan.

    Deterministic tie law: rank by ``(count DESC, value ASC)`` —
    bit-identical cross-engine, the min_by-struct convention.
    ``share_ppm = 10⁶·cnt div n_group`` is one terminal floored
    BIGINT division (cnt ≤ n_group keeps ``10⁶·cnt`` far under 2^63
    for any n_group < 9.2e12 — in-plan named assert past it).

    Plan shape: ONE map-side-combinable count aggregate (output =
    Σ_g |group g's value domain| counters) + one group-partitioned
    window that computes totals AND rank on the SAME exchange; the
    rank sort is over each group's domain counters, never rows.  At
    100 TB the wire carries |groups|·|domain| counters.

    NULL group keys / values are EXCLUDED (the family convention).

    Returns ``(<group_cols>, rank, value, cnt, share_ppm)`` — ≤ k
    rows per group, rank 1-based.

    Reference analog: none — extends the sketch family
    (SURVEY §2 extension table).
    """
    if not group_cols:
        raise ValueError(
            "heavy_hitters_by: group_cols is empty — use "
            "heavy_hitters for the global single-column form "
            "(operators/sketch.py)"
        )
    from pyspark.sql import Window as W

    keep = F.col(col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(*group_cols, F.col(col).cast("string").alias("value"))
        .agg(F.count("*").alias("cnt"))
    )
    wg = W.partitionBy(*group_cols)
    wr = W.partitionBy(*group_cols).orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    base = counts.select(
        *group_cols,
        "value",
        "cnt",
        F.sum("cnt").over(wg).alias("_n"),
        F.row_number().over(wr).alias("rank"),
    ).filter(F.col("rank") <= k)
    # in-plan validity bound (the family loud-contract convention for
    # runtime-known totals, one shared definition): 10^6 * cnt <=
    # 10^6 * n stays exact BIGINT
    from radohydro_spark.laws import with_share_ppm

    return with_share_ppm(base, "cnt", "_n", "heavy_hitters_by").select(
        *group_cols,
        F.col("rank").cast("long").alias("rank"),
        "value",
        F.col("cnt").cast("long").alias("cnt"),
        "share_ppm",
    )
