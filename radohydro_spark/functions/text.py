"""Text-analysis scalar functions for large-scale training-data pipelines.

All JVM-side built-in expressions (split/transform/aggregate/regexp) — no
Python UDFs in the hot path.  Every function has an exact ANSI-SQL twin used
by the DuckDB oracle (__spark_entry__.py), so semantics are pinned
cross-engine:

* token counting        — whitespace tokenization
* quality scoring       — length / punctuation / stopword / distinct ratios
* language ID           — marker-word n-gram heuristic, deterministic CASE
* document fingerprint  — 31-base rolling hash over characters (mod p)
* portable string hash  — md5-hex prefix folded to a 32-bit int (the
  cross-engine primitive under minhash/simhash/LSH)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from radohydro_spark.session import pin

HASH_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")

# marker words scored per language; priority order breaks ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "ist"),
    "es": ("el", "la", "que", "es"),
    "fr": ("le", "la", "et", "est"),
    "zh": ("de5", "shi4", "le5", "zai4"),
}


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-ish subword counting is `token_count /
    0.75` by the usual 4-chars-per-token rule; kept separate so the oracle
    stays exact)."""
    return F.size(tokens(text))


def gram_array(text_col: Column | str, k: int) -> Column:
    """POSITIONAL (ordered, non-distinct) k-word-gram array — THE single
    home of the tokenize / slide / concat_ws law (r12 review: it had
    drifted into four per-module reimplementations, and the one copy
    that deviated carried a crash).  Consumers:

    * ``dedup.shingle_array``         — array_distinct of this (set form)
    * ``dedup._positional_shingles``  — posexplode of this (winnowing)
    * ``sampling._hashed_gram_buckets`` — explode of this (DSIR counts)

    A document shorter than ``k`` tokens yields ONE short gram; an
    all-whitespace document yields one '' gram — callers drop '' (the
    pinned convention every oracle reproduces)."""
    toks = tokens(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))


BPE_PRETOKEN_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column | str) -> Column:
    """GPT-2-style pre-tokenizer approximation: letter runs, single digits,
    and punctuation each count as one token (the dominant terms of the
    byte-pair pre-tokenization regex).  Trains-data budgeting needs token
    counts long before a real tokenizer enters the pipeline; this stays
    JVM-side (`regexp_count`) and has an exact DuckDB twin."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_PRETOKEN_RE))


def bpe_ish_token_estimate(text: Column | str) -> Column:
    """chars/4 rule-of-thumb estimate, the standard budgeting fallback."""
    c = F.col(text) if isinstance(text, str) else text
    return F.ceil(F.length(c) / F.lit(4.0)).cast("long")


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c) - F.length(F.regexp_replace(c, r"[.,!?;:]", ""))


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    in_list = F.filter(
        toks, lambda t: F.lower(t).isin(*[F.lit(s) for s in STOPWORDS])
    )
    return F.size(in_list) / F.size(toks)


def distinct_token_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    return F.size(F.array_distinct(toks)) / F.size(toks)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1]-ish quality score: rewards mid-length docs with
    diverse vocabulary, penalizes stopword stuffing.  Fixed formula so the
    oracle can mirror it exactly.

    Empty/whitespace-only documents score 0 (r12 review: tokens('') is
    [''], which made distinct_token_ratio a "perfect" 1.0 and scored an
    EMPTY document 0.6 — above many real documents, so a threshold gate
    kept empties while dropping prose)."""
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    return F.when(F.length(F.trim(c)) == 0, F.lit(0.0)).otherwise(
        F.round(
            0.4 * len_score
            + 0.4 * distinct_token_ratio(c)
            + 0.2 * (1.0 - stopword_ratio(c)),
            6,
        )
    )


def text_stats(df, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)):
    """Staged all-stats projection: tokenize ONCE, derive every ratio from
    the shared token array.

    Semantically identical to selecting the scalar fns above column-by-
    column, but ~4x faster: inlining them builds one giant expression tree
    that re-splits the document ~8x and blows past JIT method-size limits
    (codegen falls back to interpreted eval).  Two narrow Projects keep the
    array columns alive across the stage boundary instead — this is the
    hot-path form for 100 TB corpus scans.
    """
    c = F.col(text_col)
    stop_lits = [F.lit(s) for s in STOPWORDS]
    stage1 = df.select(
        *id_cols,
        text_col,
        tokens(c).alias("_toks"),
    ).select(
        *id_cols,
        text_col,
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("_n_distinct"),
        F.size(
            F.filter(F.transform("_toks", F.lower), lambda t: t.isin(*stop_lits))
        ).alias("_n_stop"),
    )
    n_tok = F.col("n_tokens").cast("double")
    stopr = F.col("_n_stop") / n_tok
    distr = F.col("_n_distinct") / n_tok
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    return stage1.select(
        *id_cols,
        F.col("n_tokens"),
        F.length(c).alias("n_chars_calc"),
        (F.length(c) - F.length(F.regexp_replace(c, r"[.,!?;:]", ""))).alias("n_punct"),
        F.round(stopr, 6).alias("stop_ratio"),
        F.round(distr, 6).alias("distinct_ratio"),
        # empty/whitespace docs score 0 — same guard as quality_score
        F.when(F.length(F.trim(c)) == 0, F.lit(0.0))
        .otherwise(
            F.round(0.4 * len_score + 0.4 * distr + 0.2 * (1.0 - stopr), 6)
        )
        .alias("quality"),
    )


def repetition_stats(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 2
):
    """Intra-document repetition profile (the Gopher-style repetition
    quality rule): per document, the share of occurrences claimed by the
    single most frequent k-gram and the duplicate-k-gram fraction.
    Boilerplate, templated spam, and decode loops all spike these.

    Plan shape: k-grams explode WITH multiplicity (unlike the dedup
    shingles, which are distinct-per-doc), then two map-side-combinable
    aggregates — (doc, gram) counts, then per-doc max/sum/distinct.  Both
    shuffles carry pre-combined partials, so network rows are bounded by
    distinct (doc, gram) pairs, not token count; no UDF anywhere.

    Returns (doc_id, n_ngrams, top_ngram_share, dup_ngram_frac).
    """
    toks = tokens(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    ex = df.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    ).filter(F.col("g") != "")
    per = ex.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_ngrams"),
            F.max("cnt").alias("_top"),
            F.count("*").alias("_nd"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            F.round(F.col("_top") / F.col("n_ngrams"), 6).alias("top_ngram_share"),
            F.round(1 - F.col("_nd") / F.col("n_ngrams"), 6).alias("dup_ngram_frac"),
        )
    )


def lang_id(text: Column | str, langs: list[str] | None = None) -> Column:
    """Marker-word language heuristic: count marker hits per language,
    argmax with deterministic priority-order tie-break (CASE chain, same
    shape as the SQL twin)."""
    c = F.col(text) if isinstance(text, str) else text
    langs = langs or list(LANG_MARKERS)
    toks = F.transform(tokens(c), F.lower)
    scores = {
        lang: F.size(
            F.filter(toks, lambda t: t.isin(*[F.lit(m) for m in LANG_MARKERS[lang]]))
        )
        for lang in langs
    }
    # CASE chain in priority order: first branch whose score is >= all
    # others wins — evaluation order itself implements the tie-break,
    # exactly like the SQL CASE twin.
    expr = None
    for lang in langs:
        # seed with TRUE so a single-language list builds a valid branch
        # (F.when(None, ...) raised at expression-build time, r12 review)
        cond = F.lit(True)
        for other in langs:
            if other == lang:
                continue
            cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[-1]))


def char_codes(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.transform(F.split(c, ""), F.ascii)


def fingerprint(text: Column | str) -> Column:
    """Order-sensitive rolling hash: fold acc*31 + ascii(char) mod 2^31-1.

    The document-fingerprint primitive (and the basis for shingle hashing):
    identical fold in DuckDB via list_reduce(list_prepend(0, codes), ...).
    """
    return F.aggregate(
        char_codes(text),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % HASH_MOD,
    )


def portable_hash(s: Column | str) -> Column:
    """Deterministic cross-engine 32-bit string hash: first 8 hex chars of
    md5(s) read base-16.  Spark: ``conv(_, 16, 10)``; DuckDB 1.0 has no
    strtol/conv, so the SQL twin folds digit-by-digit via
    ``list_reduce(... strpos('0123456789abcdef', ch) - 1 ...)`` — same
    value."""
    c = F.col(s) if isinstance(s, str) else s
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


# PII patterns: deliberately a portable regex subset (char classes +
# bounded quantifiers only) so the Java-regex engine (Spark) and RE2
# (DuckDB oracle, with the 'g' flag) produce identical rewrites.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    (r"\+[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>"),
)


def redact_pii(text: Column | str) -> Column:
    """Scrub emails / IPv4s / international-format phone numbers to typed
    placeholder tokens — the standard pre-training hygiene pass, as chained
    JVM-side ``regexp_replace`` (no UDF in the hot path)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def unigram_logprob(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 50000,
    min_count: int = 1,
):
    """Corpus-trained unigram LM scoring — the perplexity-proxy quality
    signal (gibberish and off-distribution text score far below fluent
    prose) computed without any external model: the corpus itself is the
    training set.

    Plan: ONE token explode feeds both sides — (a) the vocabulary
    (token counts, ``min_count`` floor, deterministic ``top_k`` cut by
    (count DESC, token) so the capped vocab broadcasts safely at any
    corpus size) and (b) per-document scoring, a broadcast left join of
    tokens against the vocab with out-of-vocabulary tokens floored at
    ln(0.5 / total).  Two map-side-combinable aggregates, no UDF.

    Returns ``(id, n_tokens, sum_logprob, avg_logprob)``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt")).filter(
        F.col("cnt") >= min_count
    )
    # top-k via orderBy().limit(): TakeOrderedAndProject (per-task heaps +
    # driver merge) — a global row_number window would single-task the
    # entire distinct-token table, which at corpus scale is enormous
    vocab = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(top_k)
    total = vocab.agg(F.sum("cnt").cast("double").alias("_total"))
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.coalesce(
                F.log(F.col("cnt").cast("double") / F.col("_total")),
                F.log(F.lit(0.5) / F.col("_total")),
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum("_lp"), 4).alias("sum_logprob"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )


def html_to_text(text: Column | str) -> Column:
    """HTML → text boilerplate removal, entirely JVM-side (chained
    ``regexp_replace`` — no UDF in the 100 TB scan path): script/style
    blocks dropped with their CONTENT (two passes — RE2, the oracle's
    engine, has no backreferences so ``</(script|style)>`` can't be one
    pattern), remaining tags stripped to spaces, the five ubiquitous
    entities decoded in single-decode order (&amp; LAST, so "&amp;lt;"
    yields "&lt;" not "<"), whitespace collapsed, trimmed.

    A real crawl pipeline swaps in a DOM parser for fidelity; this is the
    regex fast path whose behavior is pinned cross-engine.
    """
    c = F.col(text) if isinstance(text, str) else text
    # (?i): legacy crawl HTML carries uppercase <SCRIPT>/<STYLE> tags —
    # without it the generic tag pass stripped the tags but LEAKED the
    # script content into the text (r12 review)
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, "[ \t\r\n]+", " "))


# cleaning rules shared by normalize_clean and its SQL oracle twin:
# (1) Unicode NFC  (2) strip C0/C1-ish control chars except \t \r \n
# (3) NBSP -> space  (4) collapse [ \t\r\n]+ to one space  (5) trim spaces.
# Explicit char classes only — no \s — so Java regex, Python re, and RE2
# (DuckDB) agree byte-for-byte.
_CTRL_CLASS = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_WS_CLASS = "[ \t\r\n]+"


def normalize_clean(
    df, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)
):
    """Unicode text canonicalization — the first pass of every corpus
    pipeline: NFC normalization (é as one codepoint, not e+combining
    accent — dedup/fingerprinting break without it), control-char strip,
    NBSP unification, whitespace collapse, trim.

    Spark has no built-in NFC, so this is an Arrow ``mapInPandas`` kernel
    (pandas ``.str.normalize`` — ICU-free C-speed path); everything else
    stays in the same vectorized pass.  Narrow stage, no shuffle; emits
    (id_cols..., <text_col> cleaned).  The DuckDB twin is
    ``nfc_normalize`` + the same explicit-char-class regexes.
    """
    import pandas as pd  # noqa: F401 (doc pointer; imported in kernel)

    cols = [*id_cols, text_col]

    def gen(it):
        for pdf in it:
            s = (
                pdf[text_col]
                .str.normalize("NFC")
                .str.replace(_CTRL_CLASS, "", regex=True)
                .str.replace("\u00a0", " ", regex=False)
                .str.replace(_WS_CLASS, " ", regex=True)
                .str.strip(" ")
            )
            out = pdf[list(id_cols)].copy()
            out[text_col] = s
            yield out

    src = df.select(*cols)
    schema = ", ".join(
        f"{c} {dict(src.dtypes)[c]}" for c in id_cols
    ) + f", {text_col} string"
    return src.mapInPandas(gen, schema=schema)


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
):
    """Top-k terms per document by TF-IDF — the classic keyword-extraction
    pass of a corpus pipeline, fully relational (no UDF, no vocabulary
    collect):

        tf(d, t)  = occurrences of t in d            (explode + count)
        df(t)     = documents containing t           (count distinct docs)
        idf(t)    = ln((N + 1) / (df + 1))           (smoothed)
        score     = tf * idf, rank per doc, keep top_k

    Plan shape: one explode → groupBy(doc, term) for tf; df(t) reuses the
    tf table (already one row per (doc, term)) with a groupBy(term) — no
    second pass over the raw text.  N is a scalar broadcast subquery, not a
    driver collect.  Ranking shuffles one row per (doc, term) once.

    Returns (id_col, term, tf, df, tfidf, rank), tfidf rounded to 6 for
    cross-engine hash stability.
    """
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.countDistinct(id_col).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("doc_id").alias(id_col), "term", "tf", "df", "tfidf", "rank"
        )
    )


def pack_sequences(
    df,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    order_cols: tuple[str, ...] = ("doc_id",),
):
    """Deterministic greedy sequence packing: assign documents to training
    bins of ``budget`` tokens by running token count, in a fixed document
    order — the relational analog of context-window packing.

    bin = floor(cumulative_tokens_before_doc / budget): a document opens a
    new bin when the running total crosses a budget boundary (documents are
    not split; a bin may overflow by at most one document's tokens, the
    standard greedy-packing tradeoff).

    One group-key shuffle shared by both windows (the bin-offset window
    partitions on (group, bin) — a superset of the group partitioning,
    and bin is monotone in the pack order, so no second exchange); with
    ``group_col`` (e.g. source) packing is per-group — at corpus scale
    that is the natural parallel unit.  Returns (id_col, [group_col],
    n_tokens, bin, offset) with ``offset`` = the document's token start
    position inside ITS BIN's concatenated stream — computed as
    ``cum_before − min(cum_before) over the bin``, because bins can
    overflow (documents are never split): after any overflow,
    ``cum_before % budget`` is NOT the position in the new bin's stream
    (r12 review — a consumer placing tokens at that offset wrote the
    bin's first document at a nonzero position).
    """
    from pyspark.sql import Window as W

    parts = [group_col] if group_col else []
    w = (
        W.partitionBy(*parts)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(W.unboundedPreceding, -1)
    )
    n_tok = token_count(text_col)
    out = df.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        n_tok.alias("n_tokens"),
    ).withColumn("_cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    out = out.withColumn(
        "bin", F.floor(F.col("_cum_before") / budget).cast("int")
    )
    w_bin = W.partitionBy(*parts, "bin")
    return out.select(
        id_col,
        *parts,
        "n_tokens",
        "bin",
        (F.col("_cum_before") - F.min("_cum_before").over(w_bin))
        .cast("long")
        .alias("offset"),
    )


SENTENCE_SPLIT_RE = r"[.!?][ ]+"  # portable: char class + literal space, no lookaround


def sentence_chunks(
    df,
    max_chars: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Split documents into sentences and regroup them into chunks of at
    most ~``max_chars`` — the splitting stage between raw documents and
    context-window packing.  Chunk assignment uses the same deterministic
    running-total rule as ``pack_sequences`` (chunk = floor(cumulative
    chars before sentence / max_chars)): one window shuffle, identical
    arithmetic in any engine, and a sentence longer than the budget gets
    its own chunk rather than being split.

    Returns (id_col, chunk_id, n_sentences, n_chars, chunk_text) with
    sentences joined in document order.
    """
    from pyspark.sql import Window as W

    c = F.col(text_col)
    sent = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(c, SENTENCE_SPLIT_RE)).alias("pos", "sent"),
    ).filter(F.trim(F.col("sent")) != "")
    w = (
        W.partitionBy("doc_id")
        .orderBy(F.col("pos").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    sent = sent.withColumn("n", F.length("sent")).withColumn(
        "_cum_before", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    sent = sent.withColumn(
        "chunk_id", F.floor(F.col("_cum_before") / max_chars).cast("int")
    )
    return (
        sent.groupBy("doc_id", "chunk_id")
        .agg(
            F.count("*").alias("n_sentences"),
            F.sum("n").alias("n_chars"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                    lambda s: s["sent"],
                ),
                " ",
            ).alias("chunk_text"),
        )
        .select(
            F.col("doc_id").alias(id_col),
            "chunk_id",
            "n_sentences",
            "n_chars",
            "chunk_text",
        )
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 10,
) -> DataFrame:
    """Capped inverted index (r6): term → (document frequency, first
    ``max_postings`` doc ids) — the retrieval-side structure behind
    contamination lookups and BM25-style candidate generation over a
    training corpus.

    Scale shape: postings are capped BEFORE collection — a
    ``row_number() <= k`` window per term bounds every ``collect_list``
    at ``max_postings`` elements, so a stop-word appearing in every one
    of 10¹⁰ documents costs k array slots, not an OOM (the cap-then-
    collect pattern, not collect-then-slice).  One explode + distinct,
    one window, two map-side-combinable aggregates joined on term.

    Returns ``(term, df, postings)`` with postings sorted ascending.
    """
    from pyspark.sql import Window as W

    # tokens() — the shared whitespace law — not a bare ' ' split: a
    # tab/newline-separated document otherwise became one bogus term and
    # every index lookup through it missed (r12 review; the drift class
    # gram_array centralization exists to kill)
    tok = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(tokens(text_col)).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    dfc = tok.groupBy("term").agg(F.count("*").alias("df"))
    w = W.partitionBy("term").orderBy("_doc")
    capped = (
        tok.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_postings)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("_doc")).alias("postings"))
    )
    return dfc.join(capped, "term").select("term", "df", "postings")


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus-trained BIGRAM LM scoring (r6) — the sharper perplexity
    proxy above [[unigram_logprob]]: word-order violations (shuffled or
    templated text) score low even when every individual token is common.

    p(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁·) + α·V), add-α smoothed over the
    corpus's own bigram counts; history count c(w₁·) is the number of
    bigrams STARTING with w₁ (so probabilities per history sum to 1 over
    the smoothed vocabulary).

    Plan: one posexplode feeds adjacency (lead over (doc, pos) — one
    window), then two map-side-combinable count aggregates and one
    equi-join of pairs against the bigram counts; V is a 1-row broadcast.
    No UDF, no collect.  Returns ``(id, n_bigrams, sum_logprob,
    avg_logprob)``.
    """
    from pyspark.sql import Window as W

    scored = _bigram_lp_rows(df, text_col, id_col, alpha)
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("_lp"), 4).alias("sum_logprob"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )


def _bigram_lp_rows(
    df: DataFrame, text_col: str, id_col: str, alpha: float
) -> DataFrame:
    """Shared add-α bigram-LM scoring rows: one ``(id, _lp)`` row per
    bigram OCCURRENCE, ``_lp = ln((c₂+α)/(c₁+α·V))`` — the single law
    behind :func:`bigram_logprob` (float sums, the r6 contract) and
    :func:`perplexity_buckets` (per-row integer quantization), so the
    two can never drift."""
    from pyspark.sql import Window as W

    toks = df.select(
        F.col(id_col),
        F.posexplode(F.transform(tokens(text_col), F.lower)).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    w = W.partitionBy(id_col).orderBy("pos")
    pairs = toks.withColumn("nxt", F.lead("tok").over(w)).filter(
        F.col("nxt").isNotNull()
    )
    c2 = pairs.groupBy("tok", "nxt").agg(F.count("*").alias("_c2"))
    c1 = pairs.groupBy("tok").agg(F.count("*").alias("_c1"))
    v = toks.agg(F.countDistinct("tok").cast("double").alias("_v"))
    return (
        pairs.join(c2, ["tok", "nxt"])
        .join(c1, "tok")
        .crossJoin(F.broadcast(v))
        .select(
            id_col,
            F.log(
                (F.col("_c2") + F.lit(alpha))
                / (F.col("_c1") + F.lit(alpha) * F.col("_v"))
            ).alias("_lp"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    cuts_micro: tuple[int, int] = (-3_405_000, -3_390_000),
    scale: int = 1_000_000,
) -> DataFrame:
    """CCNet-style perplexity stratification (Wenzek et al. LREC'20):
    score every document with the corpus-trained bigram LM and bin it
    into head / middle / tail quality buckets on FIXED thresholds — the
    standard pretraining-corpus split (keep head, sample middle, drop or
    re-filter tail).  Fixed cutpoints, not corpus quantiles: the bucket
    of a document never depends on what else is in the batch, so
    incremental ingestion is stable and no global sort exists anywhere.

    EXACT cross-engine: each bigram's ``lp·scale`` quantizes to BIGINT
    ``lp_micro = round(...)`` BEFORE summing (float sums are partial-
    aggregation-order dependent; integer sums are not — the BM25/PMI
    discipline), per-document ``avg_lp_micro = sum div n`` (both engines
    truncate toward zero), and bucket compares are integer.  The one
    quantize-after-``ln`` seam is AUDITED by
    :func:`bigram_lp_boundary_margin` (the fourth op under that audit,
    after BM25 / TF-IDF / PMI).

    Plan shape: the shared :func:`_bigram_lp_rows` pipeline (one
    adjacency window + two count aggregates + vocabulary-key joins +
    a 1-row broadcast) and one doc-key aggregate.  Documents with no
    bigram (< 2 tokens) have no perplexity and are absent, matching
    :func:`bigram_logprob`.

    Returns ``(id_col, n_bigrams, avg_lp_micro, ppl_bucket)``.

    The default ``cuts_micro`` were derived ONCE from the synthetic
    driver corpus with :func:`calibrate_perplexity_cuts` and then
    pinned — the CCNet recipe (derive thresholds from a held-out
    quantile pass, then apply them as constants so bucketing stays
    batch-independent).  Re-run the helper to derive cutpoints for a
    new corpus.
    """
    lo, hi = int(cuts_micro[0]), int(cuts_micro[1])
    assert lo < hi, "cuts_micro must be (lower, upper) with lower < upper"
    q = _bigram_lp_rows(df, text_col, id_col, alpha).select(
        id_col,
        F.round(F.col("_lp") * F.lit(float(scale)), 0)
        .cast("long")
        .alias("_lpm"),
    )
    agg = q.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.expr("sum(_lpm) div count(*)").alias("avg_lp_micro"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        "avg_lp_micro",
        F.when(F.col("avg_lp_micro") > F.lit(hi), F.lit("head"))
        .when(F.col("avg_lp_micro") > F.lit(lo), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def calibrate_perplexity_cuts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    head_frac: float = 1 / 3,
    tail_frac: float = 1 / 3,
    scale: int = 1_000_000,
    exact: bool = True,
) -> tuple[int, int]:
    """One-off CUTPOINT CALIBRATION for :func:`perplexity_buckets` —
    the CCNet recipe (Wenzek et al. LREC'20 derive their head/middle/
    tail thresholds from a held-out quantile pass over the scored
    corpus, then apply them as constants): compute every document's
    ``avg_lp_micro`` under the SAME integer law the bucketer uses, take
    the ``tail_frac`` and ``1 − head_frac`` quantiles, and return them
    floored to the ``(lo, hi)`` integers the bucketer's ``>`` compares
    expect — ``head ≈ head_frac`` of documents score above ``hi``,
    ``tail ≈ tail_frac`` at or below ``lo`` (approximate at ties:
    many documents sharing one score land on one side together).

    This is a CALIBRATION ARTIFACT, not a query: run once offline on a
    reference corpus, PIN the returned constants into the pipeline
    (``perplexity_buckets(cuts_micro=...)``), and bucketing stays
    batch-independent forever after — no production job ever sorts or
    quantiles the corpus.  Returns driver-side ints by design.

    ``exact=True`` uses Spark's exact ``percentile`` (builds a
    value→count map of the avg_lp_micro DOMAIN in one aggregate —
    bounded by the score range, fine for calibration-sized corpora);
    ``exact=False`` switches to ``percentile_approx`` (KLL-style
    bounded-memory sketch, accuracy 10⁻⁴ of rank) for calibrating on a
    full production corpus.
    """
    assert 0 < head_frac < 1 and 0 < tail_frac < 1
    assert head_frac + tail_frac < 1
    q = _bigram_lp_rows(df, text_col, id_col, alpha).select(
        id_col,
        F.round(F.col("_lp") * F.lit(float(scale)), 0)
        .cast("long")
        .alias("_lpm"),
    )
    agg = q.groupBy(id_col).agg(
        F.expr("sum(_lpm) div count(*)").alias("avg_lp_micro")
    )
    lo_q, hi_q = float(tail_frac), float(1.0 - head_frac)
    if exact:
        pct = F.expr(
            f"percentile(avg_lp_micro, array({lo_q}, {hi_q}))"
        )
    else:
        pct = F.expr(
            f"percentile_approx(avg_lp_micro, array({lo_q}, {hi_q}), 10000)"
        )
    lo, hi = agg.agg(pct.alias("p")).collect()[0]["p"]
    lo_i, hi_i = int(math.floor(lo)), int(math.floor(hi))
    if lo_i >= hi_i:
        raise ValueError(
            "calibrate_perplexity_cuts: degenerate cutpoints "
            f"(lo={lo_i}, hi={hi_i}) — the corpus's score distribution "
            "is too concentrated for the requested fractions"
        )
    return lo_i, hi_i


def bigram_lp_boundary_margin(
    df: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    scale: int = 1_000_000,
    id_col: str = "doc_id",
) -> float:
    """Cross-engine quantization audit for :func:`perplexity_buckets`'
    one transcendental seam (the BM25/TF-IDF/PMI treatment): minimum
    distance of ``lp·scale`` from its rounding boundary over every
    scored bigram occurrence.  Tests pin > 1e-6 on the driver corpora
    (the 1-ulp ln perturbation is ~1e-8 at these magnitudes)."""
    x = F.col("_lp") * F.lit(float(scale))
    fx = x - F.floor(x)
    row = (
        _bigram_lp_rows(df, text_col, id_col, alpha)
        .select(F.abs(fx - F.lit(0.5)).alias("m"))
        .agg(F.min("m").alias("m"))
        .first()
    )
    return 0.5 if row["m"] is None else float(row["m"])


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
    batch_top: int = 1,
    cand_factor: int = 4,
) -> "DataFrame":
    """Multi-round BPE vocabulary induction (Sennrich et al. ACL'16) —
    the iterative generalization of the one-round pair count the
    `text_bpe_first_merges` query demonstrates: learn ``n_merges`` merge
    rules by repeatedly (a) counting adjacent SYMBOL pairs across the
    word vocabulary weighted by word frequency, (b) taking the argmax
    pair (ties → lexicographic (pa, pb), so engines agree), and
    (c) rewriting every word's symbol sequence with the new merge.

    Distributed shape — the standard corpus-scale BPE loop: the corpus
    tokenizes ONCE into a (word, count) vocabulary table (one shuffle;
    everything after runs on the vocabulary, which is corpus-size-
    independent), then each round is ONE map-side-combinable pair
    aggregation + a single-row argmax collect (TakeOrderedAndProject —
    a dimension-sized driver action) + a narrow fold rewrite.
    ``localCheckpoint`` truncates the lineage each round so round r
    never replays rounds 1..r-1 (the k_core/greedy_max_coverage
    pattern).

    The rewrite is a greedy left-to-right fold over the space-delimited
    symbol string (symbols are substrings of whitespace-free tokens, so
    ' ' is a safe delimiter): append ``pb`` WITHOUT a delimiter when the
    accumulator ends with `' ' + pa` and the next symbol is ``pb``,
    else append `' ' + symbol` — the exact law a DuckDB
    ``list_reduce`` oracle replays (overlapping repeats merge
    left-to-right: ``l l l`` + (l,l) → ``ll l``, never ``l ll``).

    Returns (merge_rank 1.., pa, pb, n) — the learned merge table, all
    deterministic.  Stops early if the vocabulary runs out of pairs.

    ``batch_top`` > 1 (r14 — VERDICT r13 #4) switches to BATCHED merge
    selection, the standard scalable-BPE compromise: serial BPE's wall
    is inherently round-serial (~0.15 s/round ⇒ hours for a production
    30k-merge vocabulary), so each round accepts up to ``batch_top``
    MUTUALLY SYMBOL-DISJOINT pairs from the round's count table and
    applies them together — ~``batch_top``× fewer rounds for the same
    vocabulary size.  EXACTNESS CAVEAT (documented, inherent): within a
    batch, pairs 2..B are chosen from counts measured BEFORE pair 1
    applied, so the table can differ from serial BPE's (in practice
    rarely — disjointness means earlier batch members cannot change a
    later member's own count, only counts of pairs TOUCHING them, which
    disjointness excludes from the batch; what CAN differ is ranks
    across round boundaries).  The law, replayed exactly by the DuckDB
    oracle:

    * candidates = top ``cand_factor·batch_top`` pairs by
      (n DESC, pa, pb), ranked 1..C;
    * GREEDY acceptance in rank order: a candidate is accepted iff
      neither of its symbols is touched by an already-ACCEPTED pair
      (the standard batched-BPE law — a candidate blocked only by
      REJECTED candidates stays eligible; an earlier order-free
      all-candidates variant starved acceptance to ~B/4 on real
      corpora).  The oracle replays the same greedy walk with a
      recursive CTE over the ≤C candidate rows, carrying the accepted
      symbol set as a space-delimited string (symbols can never
      contain a space; matched with position(), never LIKE — symbols
      may contain LIKE wildcards like ``_``).  Accepted pairs are
      pairwise symbol-disjoint by construction;
    * rounds are STATIC — ``ceil(n_merges/B)`` of them, round r
      accepting at most ``min(B, n_merges − (r−1)·B)`` pairs (a
      conflict-starved round yields fewer total merges, never extra
      rounds — the generated-CTE-replayable structure); the accepted
      pairs apply SEQUENTIALLY in acceptance order via the shared
      :func:`_bpe_merge_fold` law (sequential, not one multi-rule
      pass: a later merge may consume an earlier merge's output symbol,
      e.g. (a,b) then (x,ab) — the fold chain and the oracle's chained
      ``list_reduce`` rewrites agree bit-for-bit);
    * per-round plan cost is UNCHANGED from serial (one pair aggregate,
      one ≤C-row collect, one narrow rewrite projection of ≤B chained
      folds) — only the ROUND COUNT divides by ~B.

    Batched mode returns (merge_rank 1.., round, pa, pb, n) where n is
    the pair's count at the START of its round and merge_rank numbers
    (round, acceptance) order globally.
    """
    spark = df.sparkSession
    assert batch_top >= 1 and cand_factor >= 1
    words = (
        df.select(
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.array_join(F.split(F.col("w"), ""), " ").alias("sym"), "cnt"
        )
    )
    if batch_top > 1:
        return _bpe_train_batched(
            spark, words, n_merges, batch_top, cand_factor
        )
    merges = []
    for r in range(1, n_merges + 1):
        words = pin(words.localCheckpoint(eager=False))
        s = F.split(F.col("sym"), " ")
        prs = words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("pa"),
                        F.element_at(s, i + 1).alias("pb"),
                    ),
                )
            ).alias("p"),
            "cnt",
        ).filter(F.size(s) >= 2)
        top = (
            prs.groupBy("p.pa", "p.pb")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "pa", "pb")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pa, pb, n = top[0]["pa"], top[0]["pb"], int(top[0]["n"])
        merges.append((r, pa, pb, n))
        words = words.select(
            _bpe_merge_fold(F.col("sym"), pa, pb).alias("sym"), "cnt"
        )
    return spark.createDataFrame(
        merges, "merge_rank int, pa string, pb string, n bigint"
    )


def _bpe_train_batched(
    spark, words: DataFrame, n_merges: int, batch_top: int, cand_factor: int
) -> DataFrame:
    """Batched-selection BPE loop (see :func:`bpe_train_merges`
    ``batch_top`` docs for the exact law).  ``words`` is the
    (sym, cnt) vocabulary; each round collects the top-C candidate
    pairs (C = cand_factor·batch_top — a dimension-sized driver
    action), applies the greedy accepted-set disjointness law
    driver-side over those ≤C rows (the same walk the oracle's
    recursive CTE replays), and rewrites the vocabulary with ≤B
    chained :func:`_bpe_merge_fold` projections."""
    cap_c = cand_factor * batch_top
    merges = []  # (merge_rank, round, pa, pb, n)
    # STATIC round structure (ceil(n_merges/B) rounds, per-round cap
    # min(B, n_merges - (r-1)*B)) so a generated per-round oracle can
    # replay it: a conflict-starved round yields fewer TOTAL merges,
    # never extra rounds
    n_rounds = -(-n_merges // batch_top)
    for rnd in range(1, n_rounds + 1):
        b_r = min(batch_top, n_merges - (rnd - 1) * batch_top)
        words = pin(words.localCheckpoint(eager=False))
        s = F.split(F.col("sym"), " ")
        prs = words.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("pa"),
                        F.element_at(s, i + 1).alias("pb"),
                    ),
                )
            ).alias("p"),
            "cnt",
        ).filter(F.size(s) >= 2)
        cands = (
            prs.groupBy("p.pa", "p.pb")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "pa", "pb")
            .limit(cap_c)
            .collect()
        )
        if not cands:
            break
        accepted: list[tuple] = []
        taken: set[str] = set()
        for r in cands:
            if len(accepted) >= b_r:
                break
            if r["pa"] in taken or r["pb"] in taken:
                continue
            accepted.append((r["pa"], r["pb"], int(r["n"])))
            taken.update((r["pa"], r["pb"]))
        # rank 1 never conflicts (no higher-ranked candidate exists), so
        # every non-empty round makes progress
        for pa, pb, n in accepted:
            merges.append((len(merges) + 1, rnd, pa, pb, n))
        sym = F.col("sym")
        for pa, pb, _ in accepted:
            sym = _bpe_merge_fold(sym, pa, pb)
        words = words.select(sym.alias("sym"), "cnt")
    return spark.createDataFrame(
        merges, "merge_rank int, round int, pa string, pb string, n bigint"
    )


def _bpe_merge_fold(sym: Column, pa: str, pb: str) -> Column:
    """ONE BPE merge applied to a space-delimited symbol string — the
    greedy left-to-right fold law shared by :func:`bpe_train_merges`
    (vocabulary rewrite) and :func:`bpe_encode` (document encoding), so
    training and encoding can never disagree.  Initial acc = '' is the
    oracle's ``list_prepend('', ...)`` seed: both folds see the same
    (acc, symbol) sequence, and overlapping repeats merge left-to-right
    (``l l l`` + (l,l) → ``ll l``, never ``l ll``)."""
    return F.ltrim(
        F.aggregate(
            F.split(sym, " "),
            F.lit(""),
            lambda acc, x: F.when(
                acc.endswith(F.lit(" " + pa)) & (x == F.lit(pb)),
                F.concat(acc, F.lit(pb)),
            ).otherwise(F.concat(acc, F.lit(" "), x)),
        )
    )


def bpe_encode(
    df: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_size: int = 32,
) -> DataFrame:
    """Apply a learned BPE merge table to ENCODE documents — the serving
    half of :func:`bpe_train_merges` (Sennrich et al. ACL'16): every
    word char-splits into symbols, then each merge applies in rank order
    via the shared :func:`_bpe_merge_fold` law, exactly the rewrite the
    trainer ran on its vocabulary.  The real-tokenizer upgrade over the
    4-chars-per-token estimate of ``bpe_ish_token_count`` — per-document
    true token counts are what budget/packing pipelines consume.

    ``merges``: the DataFrame returned by ``bpe_train_merges`` (collected
    here ordered by merge_rank — a VOCABULARY-scale driver action by the
    trainer's contract, never corpus-scale) or a pre-collected ordered
    ``[(pa, pb), ...]`` list.

    Plan shape: ZERO shuffle — the merge table rides the expression tree
    as literals and documents encode in narrow projections,
    embarrassingly parallel with no exchange and no driver action.
    Merges apply in CHUNKS of ``batch_size`` folds per projection with
    an EAGER ``localCheckpoint`` between chunks, so expression depth is
    BOUNDED at any merge-table size — a production 30k-merge table is
    ~1000 shallow projections, never one 30k-deep interpreted tree
    (Catalyst analysis would stack-overflow and each row would re-scan
    its symbols 30k times; r13 review).  Each checkpoint UNPERSISTS its
    predecessor once materialized (safe: the new checkpoint's lineage is
    truncated at itself, so the old blocks are never re-read), keeping
    at most TWO corpus copies alive instead of one per chunk — the
    storage leak a lazy-checkpoint chain would accumulate (second r13
    review pass); only the final checkpoint outlives the call (released
    by the session pool like every cached intermediate).  A table that
    fits one chunk (the 6-merge driver query) is exactly the single
    projection it always was, no checkpoint at all.

    Returns ``(id_col, n_words, n_tokens, encoded)`` where ``encoded``
    joins each word's space-delimited symbols with a single space and
    ``n_tokens`` counts post-merge symbols corpus-wide.

    Reference analog: none — the reference has no text operators; this
    extends the tokenizer family (SURVEY §2 extension table).
    """
    assert batch_size >= 1
    if isinstance(merges, DataFrame):
        merges = [
            (r["pa"], r["pb"])
            for r in merges.orderBy("merge_rank").collect()
        ]
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    cur = df.select(
        F.col(id_col),
        F.transform(
            toks, lambda w: F.array_join(F.split(w, ""), " ")
        ).alias("_enc"),
    )
    prev = None
    for i in range(0, len(merges), batch_size):
        chunk = merges[i : i + batch_size]

        def apply_chunk(e: Column) -> Column:
            s = e
            for pa, pb in chunk:
                s = _bpe_merge_fold(s, pa, pb)
            return s

        cur = cur.select(
            F.col(id_col), F.transform(F.col("_enc"), apply_chunk).alias("_enc")
        )
        if i + batch_size < len(merges):
            cur = cur.localCheckpoint(eager=True)
            if prev is not None:
                prev.unpersist()
            prev = cur
    if prev is not None:
        pin(prev)
    enc = F.col("_enc")
    return cur.select(
        F.col(id_col),
        F.size(enc).cast("long").alias("n_words"),
        F.aggregate(
            enc,
            F.lit(0).cast("long"),
            lambda acc, e: acc + F.size(F.split(e, " ")).cast("long"),
        ).alias("n_tokens"),
        F.array_join(enc, " ").alias("encoded"),
    )


def _bigram_unigram_counts(df: DataFrame, text_col: str):
    """Shared corpus statistics for PMI: adjacent-token bigram counts,
    unigram counts, and the two totals — all exact BIGINTs."""
    toks = tokens(text_col)
    uni = (
        df.select(F.explode(toks).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n = F.size(toks)
    # a <=1-token document has no bigrams: explode the EMPTY array, never
    # sequence(1, 0) — Spark evaluates that as the DESCENDING array
    # [1, 0] and element_at(toks, 0) aborts the job (found by the r12
    # code review; the driver corpora have no 1-token docs, so the
    # strict sweeps never hit it)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bi = (
        df.select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("pa"),
                        F.element_at(toks, i + 1).alias("pb"),
                    ),
                )
            ).alias("p")
        )
        .filter((F.col("p.pa") != "") & (F.col("p.pb") != ""))
        .groupBy("p.pa", "p.pb")
        .agg(F.count("*").alias("cab"))
    )
    return bi, uni


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
    scale: int = 1_000_000,
) -> "DataFrame":
    """Pointwise-mutual-information collocation mining (Church & Hanks,
    CL'90) — the phrase-discovery statistic under multi-word-expression
    extraction and tokenizer-vocabulary seeding:

        PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) )
                 = ln( (c_ab/c_a) · (N1/N2) · (N1/c_b) )

    computed in the overflow-safe ratio-of-ratios form (the DSIR
    discipline: the naive ``c_ab·N1²`` cross-product overflows BIGINT
    once token counts pass ~10⁶ at corpus scale) and quantized ONCE to
    ``pmi_micro = round(PMI·scale)`` BIGINT, so the ranking compares
    exact integers — no float ordering anywhere.  The
    quantize-after-``ln`` seam is AUDITED (:func:`pmi_boundary_margin`,
    the BM25/TF-IDF/DSIR treatment).

    ``min_count`` prunes rare bigrams BEFORE the count joins (PMI is
    notoriously noisy on hapax pairs — the standard filter and the scale
    guard in one).  Plan: two map-side-combinable count aggregates, the
    surviving bigram table joins the unigram counts twice on the token
    key (vocabulary-sized relations — never corpus-sized), top-k via
    TakeOrderedAndProject.

    Returns (pa, pb, cab, pmi_micro), the top ``k`` by
    (pmi_micro DESC, pa, pb).
    """
    bi, uni = _bigram_unigram_counts(df, text_col)
    n1 = uni.agg(F.sum("c").alias("n1"))
    n2 = bi.agg(F.sum("cab").alias("n2"))
    bi = bi.filter(F.col("cab") >= min_count)
    scored = (
        bi.join(uni.select(F.col("w").alias("pa"), F.col("c").alias("ca")), "pa")
        .join(uni.select(F.col("w").alias("pb"), F.col("c").alias("cb")), "pb")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "pa",
            "pb",
            "cab",
            F.round(
                F.log(
                    (F.col("cab") / F.col("ca"))
                    * (F.col("n1") / F.col("n2"))
                    * (F.col("n1") / F.col("cb"))
                )
                * F.lit(float(scale)),
                0,
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.desc("pmi_micro"), "pa", "pb").limit(k)


def pmi_boundary_margin(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    scale: int = 1_000_000,
) -> float:
    """Cross-engine quantization audit for :func:`pmi_collocations`' one
    transcendental seam (the BM25/TF-IDF/DSIR treatment): minimum
    distance of ``PMI·scale`` from a rounding boundary over every
    surviving bigram's (c_ab, c_a, c_b) point.  Tests pin > 1e-6 on the
    driver corpora (the 1-ulp ln perturbation is ~1e-8 at these
    magnitudes)."""
    bi, uni = _bigram_unigram_counts(df, text_col)
    n1 = uni.agg(F.sum("c").alias("n1"))
    n2 = bi.agg(F.sum("cab").alias("n2"))
    bi = bi.filter(F.col("cab") >= min_count)
    x = (
        F.log(
            (F.col("cab") / F.col("ca"))
            * (F.col("n1") / F.col("n2"))
            * (F.col("n1") / F.col("cb"))
        )
        * F.lit(float(scale))
    )
    fx = x - F.floor(x)
    row = (
        bi.join(uni.select(F.col("w").alias("pa"), F.col("c").alias("ca")), "pa")
        .join(uni.select(F.col("w").alias("pb"), F.col("c").alias("cb")), "pb")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(F.abs(fx - F.lit(0.5)).alias("m"))
        .agg(F.min("m").alias("m"))
        .first()
    )
    return 0.5 if row["m"] is None else float(row["m"])


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve — the corpus-scale planning
    diagnostic: how fast does the distinct-token vocabulary grow as the
    corpus grows?  A healthy natural corpus grows ``V ≈ K·N^β`` with β
    ~0.4-0.6; a flattening curve means new data is redundant (stop
    collecting / dedup harder), a superlinear one means noise or
    boilerplate explosion.  Feeds tokenizer-vocab sizing (BPE budget)
    and dedup planning directly.

    Prefix law (EXACT, integer-only): docs order by ``id_col``; bucket
    ``b(doc) = (id·n_buckets) div (max_id + 1)`` (0..n_buckets−1 for
    non-negative ids — a negative id surfaces as a negative bucket,
    visible rather than silent).  A token BELONGS to the first bucket
    containing a document that uses it (``min(bucket)`` over its
    occurrences — monotone in id, so identical to bucketing
    ``min(id)``); ``vocab_cum`` at bucket b is then EXACTLY the
    distinct-token count of the corpus prefix through b.  Tokens are
    the module's whitespace/lowercase law (split ``\\s+``, lower,
    drop empty — the unigram_logprob convention).

    Rows with NULL id or NULL text are EXCLUDED.

    Plan shape: one 1-row max aggregate (broadcast back), one token
    explode feeding TWO map-side-combinable aggregates — per-token
    ``min(bucket)`` (the only token-domain shuffle) and per-bucket
    occurrence counts — plus one doc-level per-bucket count; the three
    ≤ n_buckets-row tables full-outer join and cumulate on ordered
    windows over ≤ n_buckets counter rows.  At 100 TB the wire carries
    the |vocabulary| min-counters and 3·n_buckets counters, never rows.

    Returns per-bucket rows ``(bucket, n_docs, n_tokens, vocab_new,
    docs_cum, tokens_cum, vocab_cum)``.

    Reference analog: none — extends the text-analysis family
    (SURVEY §2 extension table).
    """
    from pyspark.sql import Window

    if not (2 <= n_buckets <= 10_000):
        raise ValueError(
            "vocab_growth: n_buckets must be in 2..10000 "
            "(functions/text.py)"
        )
    d = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    # in-plan validity bound (the family loud-contract convention for
    # runtime-known extremes): id·n_buckets must stay exact BIGINT —
    # hash-valued 64-bit ids would silently wrap the bucket law
    # otherwise (r16 review)
    _id_bound = 9_223_372_036_854_775_807 // n_buckets - 1
    mx_ok = F.col("_mx") <= F.lit(_id_bound)
    mx = d.agg(F.max("_id").alias("_mx")).select(
        F.when(F.col("_mx").isNull() | mx_ok, F.col("_mx"))
        .otherwise(
            F.assert_true(
                mx_ok,
                F.lit(
                    "vocab_growth: max id exceeds the exact bucket "
                    "domain (id*n_buckets past BIGINT) — remap ids "
                    "first (functions/text.py)"
                ),
            ).cast("long")
        )
        .alias("_mx")
    )
    db = d.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(_id * {n_buckets}) div (_mx + 1)")
        .cast("long")
        .alias("bucket"),
        "_text",
    )
    toks = (
        db.select("bucket", F.explode(tokens("_text")).alias("_tok"))
        .select("bucket", F.lower(F.col("_tok")).alias("_tok"))
        .filter(F.col("_tok") != "")
    )
    tok_b = toks.groupBy("bucket").agg(F.count("*").alias("n_tokens"))
    voc_b = (
        toks.groupBy("_tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("vocab_new"))
    )
    doc_b = db.groupBy("bucket").agg(F.count("*").alias("n_docs"))
    j = (
        doc_b.join(tok_b, "bucket", "full_outer")
        .join(voc_b, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("vocab_new", F.lit(0)).cast("long").alias("vocab_new"),
        )
    )
    wcum = (
        Window.partitionBy()
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "bucket",
        "n_docs",
        "n_tokens",
        "vocab_new",
        F.sum("n_docs").over(wcum).cast("long").alias("docs_cum"),
        F.sum("n_tokens").over(wcum).cast("long").alias("tokens_cum"),
        F.sum("vocab_new").over(wcum).cast("long").alias("vocab_cum"),
    )
