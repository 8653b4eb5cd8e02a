"""Text analysis for training-data curation: token counting, quality
scoring, language-ID, document fingerprinting.

All pure Spark expressions (whole-stage codegen, no Python workers) and
all deterministic — every operator has a DuckDB oracle in
``__spark_entry__.py``.  These compose with the validation chains (e.g.
``Unicode | Strip`` first, then quality scoring on the cleaned text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filters_spark.pipeline.dedup import portable_hash60, word_shingles

__all__ = [
    "pmi_collocations",
    "token_counts",
    "token_entropy",
    "quality_score",
    "lang_id",
    "unigram_logprob",
    "fingerprint",
    "tfidf_top_terms",
    "STOPWORDS",
]

#: BPE-ish pre-tokenisation: letter runs, digit runs, single non-alnum
#: (the GPT-2 pattern family, simplified to what RE2/Java regex both run)
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: tiny per-language stopword profiles for the n-gram/stopword heuristic
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "to", "and", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "de", "que", "los", "es"),
}


def _tokens(text) -> Column:
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace and BPE-ish token counts per document:
    ``(id, n_ws_tokens, n_bpe_tokens)``.  Pure projection — at 100 TB
    this runs at scan speed and the counts ride the same pass as
    validation chains."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(_tokens(text)).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token-level Shannon entropy (bits) — the
    within-document lexical-diversity quality signal (low entropy =
    repetitive/boilerplate text, the failure mode ``repetition_stats``
    measures via n-gram fractions; entropy summarises it in one number
    that composes with the quality-score rule stack).

    Returns ``(id, n_tokens, n_distinct_tokens, entropy)`` where
    ``entropy = −Σ_t (c_t/n)·log2(c_t/n) = log2(n) − (Σ_t c_t·log2 c_t)/n``
    over whitespace tokens (the same tokenizer as ``token_counts``).
    Documents with zero tokens are dropped (they have no distribution;
    ``Empty``/``NotEmpty`` chains own presence).

    Scale shape: Generate (explode — no shuffle) → hash aggregation on
    ``(id, token)`` with map-side combine (a document's tokens are
    row-contiguous, so duplicate tokens collapse before the shuffle) →
    second hash aggregation on ``id``.  All whole-stage codegen; the
    log2 identity avoids carrying per-token probabilities through the
    shuffle.
    """
    toks = _tokens(F.col(text_col))
    per_token = (
        df.select(
            F.col(id_col).alias("id"), F.explode(toks).alias("tok")
        )
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c = F.col("c").cast("double")
    return (
        per_token.groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
            F.sum(c * F.log2(c)).alias("__clogc"),
        )
        .select(
            "id",
            "n_tokens",
            "n_distinct_tokens",
            (
                F.log2(F.col("n_tokens").cast("double"))
                - F.col("__clogc") / F.col("n_tokens").cast("double")
            ).alias("entropy"),
        )
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality components + composite score per document.

    ``keep_cols`` carries extra input columns through (e.g. the text
    itself), so downstream steps chain off one scan instead of
    re-joining the corpus on id.

    Components (all ratios in [0,1], double):
    - ``len_score``: min(n_chars / 500, 1) — favour substantial docs;
    - ``punct_ratio``: punctuation chars / chars;
    - ``digit_ratio``: digit chars / chars;
    - ``stopword_ratio``: English-stopword tokens / tokens (prose-ness);
    - ``mean_token_len``: chars per whitespace token.

    ``score = len_score · (1 − punct_ratio) · (1 − digit_ratio) ·
    (0.5 + 0.5·min(stopword_ratio·5, 1))`` — a C4/Gopher-style rule
    stack, kept multiplicative so any hard zero kills the document.
    """
    text = F.col(text_col)
    toks = _tokens(text)
    n_chars = F.length(text).cast("double")
    n_tok = F.size(toks).cast("double")
    punct = F.size(
        F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), 0)
    ).cast("double")
    digit = F.size(F.regexp_extract_all(text, F.lit(r"[0-9]"), 0)).cast(
        "double"
    )
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("double")
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1.0))
    digit_ratio = digit / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stop / F.greatest(n_tok, F.lit(1.0))
    score = (
        len_score
        * (1 - punct_ratio)
        * (1 - digit_ratio)
        * (0.5 + 0.5 * F.least(stop_ratio * 5, F.lit(1.0)))
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("score"),
        *[F.col(c) for c in keep_cols],
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    profiles: dict[str, tuple[str, ...]] | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stopword-profile language ID: ``(id, lang_pred, lang_hits)``.

    ``keep_cols`` carries extra input columns through (single-scan
    chaining, as in :func:`quality_score`).

    Counts distinct-token hits against each language's stopword profile;
    prediction = language with the most hits (ties broken
    lexicographically, zero hits → 'und').  Pure expressions — the
    profiles are literal arrays, ``array_intersect`` does the matching.
    The heuristic is deterministic and has an exact SQL oracle.
    """
    profiles = profiles or STOPWORDS
    toks = F.array_distinct(_tokens(F.col(text_col)))
    hits = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in sorted(profiles.items())
    }
    best = F.lit(0)
    for h in hits.values():
        best = F.greatest(best, h)
    pred = F.lit("und")
    # reverse-lexicographic fold so earlier languages win ties
    for lang in sorted(hits, reverse=True):
        pred = F.when(
            (hits[lang] > 0) & (hits[lang] == best), F.lit(lang)
        ).otherwise(pred)
    return df.select(
        F.col(id_col).alias("id"),
        pred.alias("lang_pred"),
        best.cast("long").alias("lang_hits"),
        *[F.col(c) for c in keep_cols],
    )


def unigram_logprob(
    df: DataFrame,
    freqs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_logp: float = -20.0,
    grid: float = 1e6,
) -> DataFrame:
    """Corpus-fit quality score: mean unigram log-probability per
    document — the scale-honest core of CCNet/KenLM-style perplexity
    filtering (documents whose words are improbable under a reference
    corpus's unigram LM score low and get filtered/downsampled).

    ``freqs`` is a ``(word, freq)`` frame, e.g. from
    :func:`filters_spark.pipeline.word_freqs` over the REFERENCE corpus
    (persist it — it sits under two consumers: the total-count
    aggregate and the token join).  Each token's
    ``ln(freq / total)`` (OOV → ``oov_logp``) is quantized to a
    ``1/grid`` integer grid and summed AS BIGINT, so the per-document
    mean is partition-order-independent and bit-reproducible across
    engines (the ivf_refine trick); the mean divides back in double
    with fixed operation order (sum / n / grid).

    Plan shape (100-TB honest): one token explode over the corpus, one
    join against the vocab table (broadcast when the vocab is small —
    ``word_freqs`` caps it at ``max_words``), one hash aggregation by
    document id.  No Python, no window, no driver loop.

    Output: ``(id, n_tokens, avg_logp)`` — one row per input document;
    documents with no tokens keep ``n_tokens = 0`` and NULL
    ``avg_logp``.
    """
    total_ljp = freqs.agg(F.sum("freq").alias("__total"))
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("word"),
    )
    logp = F.when(
        F.col("freq").isNotNull(),
        F.log(F.col("freq").cast("double") / F.col("__total")),
    ).otherwise(F.lit(float(oov_logp)))
    q = F.round(logp * F.lit(grid)).cast("long")
    scored = (
        toks.join(F.broadcast(freqs), "word", "left")
        .crossJoin(F.broadcast(total_ljp))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(q).alias("__s"),
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(scored, "id", "left").select(
        "id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias(
            "n_tokens"
        ),
        (
            F.col("__s").cast("double") / F.col("n_tokens") / F.lit(grid)
        ).alias("avg_logp"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 2,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the standard keyword /
    topic signal for corpus curation (source triage, boilerplate
    spotting, topic-balanced sampling).

    Terms are lowercased ``[a-z0-9]+`` runs of length ≥ ``min_len``.
    ``score = tf * (ln((n_docs + 1) / (df + 1)) + 1)`` (smoothed idf);
    ranking breaks score ties lexicographically so results are
    deterministic.  Output: ``(id, term, tf, doc_freq, score, rank)``.

    Plan shape: the term-frequency relation is built ONCE (explode +
    one hash agg) and feeds both the document-frequency aggregate and
    the scoring join; ``n_docs`` enters as a broadcast one-row cross
    join, so the whole thing stays one lazy plan with no driver action.
    The per-doc top-k is a window over the doc key — rank data is one
    row per distinct (doc, term), already ~10× smaller than the token
    stream.
    """
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: F.length(t) >= min_len,
            )
        ).alias("term"),
    )
    tf = terms.groupBy("id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # doc_freq must CONSUME tf (the vacuous tf > 0 predicate): without
    # it Catalyst prunes the count out of this branch, rewriting it to
    # a distinct-only aggregate whose partial agg no longer canonically
    # matches the tf branch — and the scan + explode + shuffle run once
    # per consumer instead of hitting ReusedExchange (the pack_plan
    # two-consumer lesson, pinned below in tests)
    docfreq = (
        tf.where(F.col("tf") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("__n_docs")
    )
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (
                F.log(
                    (F.col("__n_docs") + 1).cast("double")
                    / (F.col("doc_freq") + 1).cast("double")
                )
                + F.lit(1.0)
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tf", "doc_freq", "score", "rank")
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    mod: int = 8,
) -> DataFrame:
    """Document fingerprint via rolling-shingle-hash selection
    (Broder-style "0 mod p" winnowing): ``(id, fingerprint)``.

    Hash every word ``n``-gram shingle (rolling window over the token
    stream) to 60 bits, keep hashes ≡ 0 (mod ``mod``) — a deterministic
    ~1/mod sample of the shingle set — sort, and digest to one md5.
    Documents sharing most content share most selected hashes, so equal
    fingerprints ⇒ near-identical content at ~1/mod resolution.  One
    explode + one groupBy; shuffle carries only selected hashes.
    """
    sh = word_shingles(df, text_col, id_col, n)
    kept = sh.withColumn("h", portable_hash60(F.col("shingle"))).where(
        F.col("h") % mod == 0
    )
    return kept.groupBy("id").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_set("h")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("fingerprint"),
        F.count_distinct(F.col("h")).alias("n_selected"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Collocation detection: pointwise mutual information over adjacent
    token bigrams — ``(w1, w2, n_pair, n_w1, n_w2, pmi)`` for every
    bigram occurring at least ``min_count`` times.  High-PMI pairs are
    the corpus's multi-word units ("new york", "gradient descent") —
    the signal tokenizer/vocab work ranks merge candidates by (BPE's
    count-greedy merges pick frequent pairs; PMI surfaces *associated*
    pairs), and a drift in the top collocations is a topical-shift
    signal token frequencies alone miss.

    ``pmi = ln((n_pair / B) / ((n_w1 / T) * (n_w2 / T)))`` with ``T`` =
    total tokens and ``B`` = total bigrams, the standard estimator
    (Church & Hanks 1990).  ``min_count`` exists because PMI explodes
    on hapax pairs (a pair seen once between two rare words maxes the
    statistic) — the floor is part of the definition in practice.

    Scale shape: one corpus explode for unigrams, one for bigrams
    (bigram arrays built JVM-side: ``transform`` over an index
    ``sequence`` — no Python), each into a token-keyed map-side-
    combining hash agg; totals ride a broadcast 1-row cross join (the
    ``drift.frequencies`` pattern); the two unigram lookups are
    equi-joins keyed on the bigram's words — shuffles carry
    ``(token, count)`` pairs, never documents.  Output bounded by
    bigrams clearing ``min_count``.
    """
    toks = _tokens(F.col(text_col))
    base = df.where(F.col(text_col).isNotNull()).select(toks.alias("__t"))

    uni = (
        base.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("__t") - 2),
        lambda i: F.struct(
            F.col("__t")[i].alias("w1"), F.col("__t")[i + 1].alias("w2")
        ),
    )
    bi = (
        base.where(F.size("__t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= int(min_count))
    )
    totals = F.broadcast(
        uni.agg(
            F.sum("n_w").cast("double").alias("__T"),
        ).crossJoin(
            base.select(
                F.greatest(F.size("__t") - 1, F.lit(0)).alias("__nb")
            ).agg(F.sum("__nb").cast("double").alias("__B"))
        )
    )
    joined = (
        bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_w1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_w2"), "w2")
        .crossJoin(totals)
    )
    pmi = F.log(
        (F.col("n_pair") / F.col("__B"))
        / ((F.col("n_w1") / F.col("__T")) * (F.col("n_w2") / F.col("__T")))
    )
    return joined.select(
        "w1",
        "w2",
        F.col("n_pair").cast("long").alias("n_pair"),
        F.col("n_w1").cast("long").alias("n_w1"),
        F.col("n_w2").cast("long").alias("n_w2"),
        pmi.alias("pmi"),
    )
