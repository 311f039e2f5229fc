"""Text-analysis operators over ``documents`` — X4 plus the
training-data-pipeline brief: token counting, language ID, quality
scoring, document fingerprinting.

All narrow maps + one optional groupBy — zero UDFs, zero shuffles except
the aggregation queries. At 100 TB these run as a single pass over the
corpus scan with column pruning (only ``text``/``lang`` read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.parity import exact_round, tokens
from ..registry import query

#: BPE-ish word-number-punct split — a regex Java (Spark) and RE2
#: (DuckDB) read alike; whitespace tokens are ``parity.tokens()``.
_BPE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_PUNCT = r"[^A-Za-z0-9\s]"

#: stopword-marker patterns per language (word-boundary alternation).
_LANG_PATTERNS = {
    "en": r"\b(the|and|of|is|in|to)\b",
    "es": r"\b(el|la|los|de|que|y)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
}
_STOP = _LANG_PATTERNS["en"]


def _count(pattern: str, lower: bool = True) -> F.Column:
    # Column API with F.lit(pattern): avoids Spark SQL string-literal
    # backslash mangling, and pins group index 0 (Spark defaults to 1).
    src = F.lower(F.col("text")) if lower else F.col("text")
    return F.size(F.regexp_extract_all(src, F.lit(pattern), 0))


def _count_sql(pattern: str, lower: bool = True) -> str:
    src = "lower(text)" if lower else "text"
    return f"len(regexp_extract_all({src}, '{pattern}'))"


# token_count -------------------------------------------------------------
@query(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '\\S+')) AS n_ws_tokens,
           {_count_sql(_BPE)} AS n_bpe_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
    tags=("text", "extension"),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letters / digit-runs / single punct — the GPT-2-style pre-tokenizer
    shape, simplified to a Java∩RE2-portable pattern)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_ws_tokens"),
        _count(_BPE).cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


# text_stats --------------------------------------------------------------
@query(
    "text_stats",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '\\S+'))) AS BIGINT) AS total_tokens,
           CAST(ROUND(CAST(CAST(SUM(len(regexp_extract_all(lower(text), '\\S+'))) AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_tokens,
           CAST(ROUND(CAST(CAST(SUM(length(text)) AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("text", "agg", "extension"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: corpus breakdown by (lang, source) — doc counts, token
    volume, averages. Integer sums → exact parity; one partial-agg
    shuffle on a low-cardinality key."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(tokens()).cast("long")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws).alias("total_tokens"),
        # decimal division before rounding — double-quotient rounding is
        # tie-unstable (operators/pipeline.py note)
        F.round(
            F.sum(ws).cast("decimal(20,0)") / F.count(F.lit(1)), 4
        )
        .cast("double")
        .alias("avg_tokens"),
        F.round(
            F.sum(F.length("text").cast("long")).cast("decimal(20,0)")
            / F.count(F.lit(1)),
            4,
        )
        .cast("double")
        .alias("avg_chars"),
    )


# lang_id -----------------------------------------------------------------
def _lang_oracle() -> str:
    scores = ",\n             ".join(
        f"{_count_sql(p)} AS c_{lang}" for lang, p in _LANG_PATTERNS.items()
    )
    langs = list(_LANG_PATTERNS)
    greatest = ", ".join(f"c_{lang}" for lang in langs)
    ladder = "\n             ".join(
        f"WHEN c_{lang} = GREATEST({greatest}) THEN '{lang}'" for lang in langs
    )
    return f"""
    WITH s AS (
      SELECT doc_id, lang,
             {scores}
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN GREATEST({greatest}) = 0 THEN 'unknown'
             {ladder}
           END AS pred_lang
    FROM s
    """


@query("lang_id", oracle=_lang_oracle(), tags=("text", "extension"))
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-marker n-gram counts — argmax over
    per-language match counts with a deterministic tie ladder
    (en > es > de > fr). A narrow map; the marker dictionaries are
    compile-time constants, nothing shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            _count(p).alias(f"c_{lang}")
            for lang, p in _LANG_PATTERNS.items()
        ],
    )
    langs = list(_LANG_PATTERNS)
    best = F.greatest(*[F.col(f"c_{lang}") for lang in langs])
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in langs:
        pred = pred.when(F.col(f"c_{lang}") == best, F.lit(lang))
    return scored.select("doc_id", "lang", pred.alias("pred_lang"))


# quality_score -----------------------------------------------------------
@query(
    "quality_score",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len(regexp_extract_all(lower(text), '\\S+')) AS n_tokens,
             {_count_sql(_PUNCT)} AS n_punct,
             {_count_sql(_STOP)} AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars_actual, n_tokens,
           CAST(ROUND(CAST(CAST(n_punct AS DOUBLE)
                           / GREATEST(n_chars_actual, 1)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS punct_ratio,
           CAST(ROUND(CAST(CAST(n_stop AS DOUBLE) / GREATEST(n_tokens, 1)
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
               AS stopword_ratio,
           CAST(ROUND(CAST(
             0.5 * LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0)
             + 0.3 * (1.0 - CAST(ROUND(CAST(CAST(n_punct AS DOUBLE)
                                  / GREATEST(n_chars_actual, 1)
                                  AS DECIMAL(28,10)), 4) AS DOUBLE))
             + 0.2 * LEAST(CAST(ROUND(CAST(CAST(n_stop AS DOUBLE)
                                 / GREATEST(n_tokens, 1)
                                 AS DECIMAL(28,10)), 4) AS DOUBLE) * 5, 1.0)
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS quality
    FROM m
    """,
    tags=("text", "extension"),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length, punctuation density, stopword
    ratio, combined into [0,1]. Ratios are rounded before combining so
    both engines do identical double arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(tokens()).cast("long").alias("n_tokens"),
        _count(_PUNCT).cast("long").alias("n_punct"),
        _count(_STOP).cast("long").alias("n_stop"),
    )
    punct_ratio = exact_round(
        F.col("n_punct").cast("double")
        / F.greatest(F.col("n_chars_actual"), F.lit(1)),
        4,
    )
    stop_ratio = exact_round(
        F.col("n_stop").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1)), 4
    )
    quality = exact_round(
        0.5 * F.least(F.col("n_tokens").cast("double") / 100, F.lit(1.0))
        + 0.3 * (1.0 - punct_ratio)
        + 0.2 * F.least(stop_ratio * 5, F.lit(1.0)),
        4,
    )
    return m.select(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


# doc_fingerprint ---------------------------------------------------------
@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS fingerprint
    FROM documents
    """,
    tags=("text", "extension"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text — the exact-dedup / lineage key. md5 output is identical across
    engines; at scale this replaces shuffling document bodies."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
        ).alias("fingerprint"),
    )


# top_ngrams_per_lang -----------------------------------------------------
TOP_NGRAMS_K = 5


@query(
    "top_ngrams_per_lang",
    oracle=f"""
    WITH toks AS (
      SELECT lang, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    grams AS (
      SELECT lang, unnest(list_transform(
               range(1, len(t)),
               i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    counted AS (
      SELECT lang, bigram, COUNT(*) AS n FROM grams GROUP BY lang, bigram
    )
    SELECT lang, bigram, n FROM (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY n DESC, bigram) AS rn
      FROM counted
    ) WHERE rn <= {TOP_NGRAMS_K}
    """,
    tags=("text", "agg", "extension"),
)
def top_ngrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram profile: the top-{K} word bigrams per language —
    the collocation stats a data-quality dashboard tracks. Bigram
    generation is a narrow map; one partial-agg shuffle on
    (lang, bigram); final ranking window over the (tiny) per-lang
    count table."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    grams = (
        docs.select("lang", t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col("t")) - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i + 1),
                        F.element_at(F.col("t"), i + 2),
                    ),
                )
            ).alias("bigram"),
        )
    )
    counted = grams.groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_NGRAMS_K)
        .drop("rn")
    )


# lang_id_confusion -------------------------------------------------------
@query(
    "lang_id_confusion",
    oracle=f"""
    WITH pred AS ({_lang_oracle()})
    SELECT lang, pred_lang, COUNT(*) AS n,
           CASE WHEN lang = pred_lang THEN 1 ELSE 0 END AS correct
    FROM pred GROUP BY lang, pred_lang
    """,
    tags=("text", "agg", "extension"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: predicted vs actual counts — the
    evaluation readout for the heuristic classifier. One tiny groupBy
    over lang_id's narrow-map output."""
    pred = lang_id(spark, sf_dir)
    return pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.when(F.col("lang") == F.col("pred_lang"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("correct"),
    )


# normalize_text ----------------------------------------------------------
@query(
    "normalize_text",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
             '\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
    tags=("text", "extension"),
)
def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for dedup/training prep: lowercase, strip
    non-alphanumerics, collapse whitespace, trim — the canonical form
    fed to shingling/fingerprinting so near-dups differing only in
    case/punctuation collide. Pure narrow map, codegen regexes."""
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.trim(t).alias("norm_text")
    )


# repetition_score --------------------------------------------------------
@query(
    "repetition_score",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\S+')) - 2
                  AS BIGINT) AS n_total,
             CAST(len(list_distinct(list_transform(
               range(1, len(regexp_extract_all(lower(text), '\S+')) - 1),
               i -> regexp_extract_all(lower(text), '\S+')[i] || ' ' ||
                    regexp_extract_all(lower(text), '\S+')[i+1] || ' ' ||
                    regexp_extract_all(lower(text), '\S+')[i+2])))
               AS BIGINT) AS n_distinct
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '\S+')) >= 3
    )
    SELECT doc_id, n_total, n_distinct,
           CAST(ROUND(CAST(1.0 - CAST(n_distinct AS DOUBLE) / n_total
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS rep_ratio
    FROM t
    """,
    tags=("text", "quality", "extension"),
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-3-gram ratio — the classic low-quality signal for
    boilerplate/spam/degenerate text (a doc that repeats the same
    phrases has few distinct n-grams relative to its length). Pure
    per-row expression work: tokenize once, count total vs distinct
    shingles; no shuffle at all. Ratio rounded through DECIMAL(28,10)
    on both engines so 5-decimal ties cannot split."""
    toks = F.col("__toks")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(3)]
        ),
    )
    base = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            tokens().alias("__toks"),
        )
        .filter(F.size(toks) >= 3)
        .select(
            "doc_id",
            (F.size(toks) - 2).cast("long").alias("n_total"),
            F.size(F.array_distinct(sh)).cast("long").alias("n_distinct"),
        )
    )
    ratio = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_total")
    return base.select(
        "doc_id",
        "n_total",
        "n_distinct",
        exact_round(ratio, 4).alias("rep_ratio"),
    )


# doc_chunk_tokens --------------------------------------------------------
CHUNK_TOKENS = 32


@query(
    "doc_chunk_tokens",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      FROM documents
    )
    SELECT doc_id, CAST(c.i AS BIGINT) AS chunk_idx,
           array_to_string(
             toks[c.i * {CHUNK_TOKENS} + 1 : (c.i + 1) * {CHUNK_TOKENS}],
             ' ') AS chunk_text,
           CAST(len(toks[c.i * {CHUNK_TOKENS} + 1
                         : (c.i + 1) * {CHUNK_TOKENS}]) AS BIGINT)
               AS n_tokens
    FROM t, LATERAL (
      SELECT unnest(range(0,
        CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT))) AS i
    ) c
    """,
    tags=("text", "packing", "extension"),
)
def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for context-window preparation: each document
    split into consecutive {K}-token chunks (last chunk ragged), one
    output row per chunk with its index and token count. A pure
    row-expanding narrow map — tokenize once, build the chunk array
    with ``transform``+``slice``, ``posexplode``; no shuffle anywhere,
    so at 100 TB this rides the scan parallelism end to end. The
    sibling ``doc_pack_assign`` handles cross-document packing; this
    handles within-document splitting — compose them for the full
    tape layout."""
    toks = F.col("__toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_TOKENS))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            tokens().alias("__toks"),
        )
        .filter(F.size(toks) > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "__chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", F.col("__chunk")).alias("chunk_text"),
            F.size("__chunk").cast("long").alias("n_tokens"),
        )
    )


# doc_rarity_idf ----------------------------------------------------------
@query(
    "doc_rarity_idf",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id,
             list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
      FROM documents
    ),
    e AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM e GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
    sc AS (
      SELECT e.doc_id,
             CAST(SUM(CAST(FLOOR(CAST(t.d AS DOUBLE) / df.df) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
      FROM e JOIN df USING (tok) CROSS JOIN tot t
      GROUP BY e.doc_id
    )
    SELECT doc_id, n_distinct_tokens,
           CAST(ROUND(CAST(CAST(s AS DOUBLE) / n_distinct_tokens
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS idf_score
    FROM sc
    """,
    tags=("text", "quality", "extension"),
)
def doc_rarity_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token heaviness score (the perplexity-proxy quality signal
    that needs no model): per document, the mean over its DISTINCT
    tokens of ``floor(D / df(token))`` — D total docs, df document
    frequency. Common tokens contribute ~1, hapaxes contribute D; a
    high score marks unusual vocabulary (or junk).

    Parity discipline: the per-token contribution is FLOORED to an
    integer so the per-doc sum is order-independent and bit-identical
    across engines (summing raw double logs would drift by summation
    order); only ONE final division happens, recover-rounded through
    DECIMAL(28,10). Plan: distinct-token explode, one shuffle on token
    for df, broadcast of the scalar D, one shuffle back on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens())).alias("tok"),
    )
    df = e.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    tot = docs.agg(F.count(F.lit(1)).alias("d"))
    contrib = F.floor(F.col("d").cast("double") / F.col("df")).cast("long")
    sc = (
        e.join(df, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(contrib).alias("s"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
        )
    )
    score = F.col("s").cast("double") / F.col("n_distinct_tokens")
    return sc.select(
        "doc_id",
        "n_distinct_tokens",
        exact_round(score, 4).alias("idf_score"),
    )


# token_frequency_rank ----------------------------------------------------
TOP_TOKENS_K = 100


@query(
    "token_frequency_rank",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS token
      FROM documents
    ),
    counted AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token)
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
    FROM counted
    ORDER BY rank LIMIT {TOP_TOKENS_K}
    """,
    tags=("text", "agg", "extension"),
)
def token_frequency_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency curve (the Zipf readout): top-{K} tokens
    with rank. Explode + partial-agg count shuffle on token; the
    ranking runs over the (vocabulary-sized) count table and the top-K
    is a TakeOrderedAndProject, never a full sort of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens()).alias("token"))
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # Top-K via orderBy().limit(): Catalyst compiles this to
    # TakeOrderedAndProject (per-partition heap + tiny driver merge) —
    # the vocabulary never funnels through a single-task WindowExec.
    top = counted.orderBy(F.col("n").desc(), "token").limit(TOP_TOKENS_K)
    # Rank is attached over the <= K surviving rows only; this window's
    # input is bounded by TOP_TOKENS_K regardless of corpus size.
    w = Window.orderBy(F.col("n").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# Gopher-style quality filter ---------------------------------------------
#: published rule-of-thumb bounds (Gopher / MassiveText, Rae et al.
#: 2021, table A1 — public paper): word-count range, mean-word-length
#: range, minimum fraction of alphabetic words, maximum symbol ratio.
_GQ_MIN_WORDS, _GQ_MAX_WORDS = 50, 100_000
_GQ_MIN_MWL, _GQ_MAX_MWL = 3.0, 10.0
_GQ_MIN_ALPHA_FRAC = 0.8
_GQ_MAX_SYMBOL_RATIO = 0.1
_ALPHA_TOK = r"\S*[a-z]\S*"
_SYMBOL = r"[#]|\.\.\."


@query(
    "gopher_quality_filter",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '\\S+')) AS n_words,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_tok_chars,
             {_count_sql(_ALPHA_TOK)} AS n_alpha_words,
             {_count_sql(_SYMBOL, lower=False)} AS n_symbols
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_words,
             CAST(ROUND(CAST(CAST(n_tok_chars AS DOUBLE)
                             / GREATEST(n_words, 1)
                             AS DECIMAL(28,10)), 4) AS DOUBLE)
                 AS mean_word_len,
             CAST(ROUND(CAST(CAST(n_alpha_words AS DOUBLE)
                             / GREATEST(n_words, 1)
                             AS DECIMAL(28,10)), 4) AS DOUBLE)
                 AS alpha_word_frac,
             CAST(ROUND(CAST(CAST(n_symbols AS DOUBLE)
                             / GREATEST(n_words, 1)
                             AS DECIMAL(28,10)), 4) AS DOUBLE)
                 AS symbol_ratio
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_ratio,
           (n_words BETWEEN {_GQ_MIN_WORDS} AND {_GQ_MAX_WORDS})
           AND (mean_word_len BETWEEN {_GQ_MIN_MWL} AND {_GQ_MAX_MWL})
           AND (alpha_word_frac >= {_GQ_MIN_ALPHA_FRAC})
           AND (symbol_ratio <= {_GQ_MAX_SYMBOL_RATIO}) AS passes
    FROM r
    """,
    tags=("text", "extension", "quality"),
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style document quality filter (public
    heuristics from Rae et al. 2021): word-count bounds, mean word
    length bounds, minimum alphabetic-word fraction, maximum symbol
    ratio — each reported per document plus the combined verdict.

    Scale shape: a single narrow codegen'd projection over the corpus
    scan (only ``text`` read); every threshold compares the SAME
    4-dp-rounded double both engines computed, so the boolean verdict
    can't fall on different sides of a tie."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"\s", ""))
        .cast("long")
        .alias("n_tok_chars"),
        _count(_ALPHA_TOK).cast("long").alias("n_alpha_words"),
        _count(_SYMBOL, lower=False).cast("long").alias("n_symbols"),
    )

    def ratio4(num: F.Column, den: F.Column) -> F.Column:
        return exact_round(num.cast("double") / F.greatest(den, F.lit(1)), 4)

    r = m.select(
        "doc_id",
        "n_words",
        ratio4(F.col("n_tok_chars"), F.col("n_words")).alias("mean_word_len"),
        ratio4(F.col("n_alpha_words"), F.col("n_words")).alias(
            "alpha_word_frac"
        ),
        ratio4(F.col("n_symbols"), F.col("n_words")).alias("symbol_ratio"),
    )
    passes = (
        F.col("n_words").between(_GQ_MIN_WORDS, _GQ_MAX_WORDS)
        & F.col("mean_word_len").between(_GQ_MIN_MWL, _GQ_MAX_MWL)
        & (F.col("alpha_word_frac") >= _GQ_MIN_ALPHA_FRAC)
        & (F.col("symbol_ratio") <= _GQ_MAX_SYMBOL_RATIO)
    )
    return r.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        "symbol_ratio",
        passes.alias("passes"),
    )


# Vocabulary build + corpus coverage --------------------------------------
_VOCAB_V = 100


@query(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM freq),
    top AS (
      SELECT tok, freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rank
      FROM freq
      QUALIFY rank <= {_VOCAB_V}
    )
    SELECT rank, tok, freq,
           CAST(ROUND(CAST(
             CAST(SUM(freq) OVER (ORDER BY rank) AS DOUBLE) / tot.total
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS cum_coverage
    FROM top CROSS JOIN tot
    """,
    tags=("text", "extension", "vocab"),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build: the top-V corpus tokens by frequency
    with each prefix's cumulative corpus coverage — the curve you read
    to size a vocabulary (what fraction of the token stream the first
    k entries explain).

    Scale shape: one token-frequency agg (map-side partial), the top-V
    via ``orderBy().limit()`` (TakeOrderedAndProject — never a global
    sort of the vocabulary), the grand total as a broadcast 1-row cross
    join, and the cumulative window runs over the LIMIT-bounded V rows
    only (documented in the window-sweep allowlist)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = freq.agg(F.sum("freq").alias("total"))
    top = freq.orderBy(F.col("freq").desc(), "tok").limit(_VOCAB_V)
    w_rank = Window.orderBy(F.col("freq").desc(), "tok")
    w_cum = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        top.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .join(F.broadcast(total))
        .select(
            "rank",
            "tok",
            "freq",
            exact_round(
                F.sum("freq").over(w_cum).cast("double") / F.col("total"), 4
            ).alias("cum_coverage"),
        )
    )


# Linear quality classifier ----------------------------------------------
#: Fixed public rule-of-thumb weights over the per-row quality features
#: (the fastText-quality-classifier SHAPE — logistic over engineered
#: features — with hand-set coefficients instead of learned ones, so
#: the scoring is fully deterministic and oracle-checkable). Rewarded:
#: length, alphabetic-word fraction, stopword presence (fluent prose);
#: penalized: symbol density, repeated 3-grams, punctuation density.
_CLS_BIAS = -2.5
_CLS_W_LEN, _CLS_W_ALPHA, _CLS_W_STOP = 2.0, 3.0, 1.5
_CLS_W_SYM, _CLS_W_REP, _CLS_W_PUNCT = -4.0, -3.0, -2.0

_R4 = "CAST(ROUND(CAST({x} AS DECIMAL(28,10)), 4) AS DOUBLE)"


def classifier_sql(extra_cols: str = "", feature_cols: bool = True) -> str:
    """The classifier's DuckDB form, shared by ``quality_classifier_score``
    and ``domain_cap_sample`` (sampling.py) so the two oracles cannot
    drift. ``extra_cols`` passes raw document columns (e.g. ``source``)
    through; ``feature_cols=False`` keeps only doc_id/extras/logit/score.
    """
    f_len = _R4.format(x="LEAST(CAST(n_words AS DOUBLE) / 100, 1.0)")
    f_alpha = _R4.format(
        x="CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1)"
    )
    f_stop = _R4.format(
        x="LEAST(CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1) * 5, 1.0)"
    )
    f_sym = _R4.format(x="CAST(n_symbols AS DOUBLE) / GREATEST(n_words, 1)")
    f_punct = _R4.format(
        x="CAST(n_punct AS DOUBLE) / GREATEST(n_chars_actual, 1)"
    )
    f_rep = _R4.format(
        x="CASE WHEN n_words >= 3 THEN "
        "1.0 - CAST(n_distinct3 AS DOUBLE) / (n_words - 2) ELSE 0.0 END"
    )
    z = _R4.format(
        x=f"{_CLS_BIAS} + {_CLS_W_LEN} * f_len + {_CLS_W_ALPHA} * f_alpha "
        f"+ {_CLS_W_STOP} * f_stop + ({_CLS_W_SYM}) * f_sym "
        f"+ ({_CLS_W_REP}) * f_rep + ({_CLS_W_PUNCT}) * f_punct"
    )
    score = _R4.format(x="1.0 / (1.0 + exp(-logit))")
    feat = (
        "f_len, f_alpha, f_stop, f_sym, f_rep, f_punct, " if feature_cols
        else ""
    )
    return f"""
    SELECT doc_id{extra_cols}, {feat}logit,
           {score} AS score,
           {score} >= 0.5 AS verdict
    FROM (
      SELECT doc_id{extra_cols}, f_len, f_alpha, f_stop, f_sym, f_rep,
             f_punct, {z} AS logit
      FROM (
        SELECT doc_id{extra_cols},
               {f_len} AS f_len, {f_alpha} AS f_alpha, {f_stop} AS f_stop,
               {f_sym} AS f_sym, {f_rep} AS f_rep, {f_punct} AS f_punct
        FROM (
          SELECT doc_id{extra_cols},
                 length(text) AS n_chars_actual,
                 len(t) AS n_words,
                 len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
                     AS n_alpha,
                 {_count_sql(_STOP)} AS n_stop,
                 {_count_sql(_SYMBOL, lower=False)} AS n_symbols,
                 {_count_sql(_PUNCT)} AS n_punct,
                 CASE WHEN len(t) >= 3 THEN CAST(len(list_distinct(
                   list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
                   AS BIGINT) ELSE 0 END AS n_distinct3
          FROM (
            SELECT doc_id{extra_cols},  text,
                   regexp_extract_all(lower(text), '\\S+') AS t
            FROM documents
          )
        )
      )
    )
    """


def classifier_frame(
    docs: DataFrame, extra: tuple[str, ...] = (), feature_cols: bool = True
) -> DataFrame:
    """Spark twin of :func:`classifier_sql`: one narrow codegen'd
    projection over the corpus scan — tokenize once, six 4-dp-rounded
    features, a rounded linear logit, logistic calibration. No shuffle,
    no UDF; at 100 TB this is a single pass fused into the scan."""

    t = F.col("__t")
    base = docs.select(
        "doc_id",
        *extra,
        F.length("text").cast("long").alias("n_chars_actual"),
        _count(_STOP).cast("long").alias("n_stop"),
        _count(_SYMBOL, lower=False).cast("long").alias("n_symbols"),
        _count(_PUNCT).cast("long").alias("n_punct"),
        tokens().alias("__t"),
    ).select(
        "doc_id",
        *extra,
        "n_chars_actual",
        "n_stop",
        "n_symbols",
        "n_punct",
        F.size(t).cast("long").alias("n_words"),
        F.size(
            F.filter(t, lambda w: w.rlike("[a-z]"))
        ).cast("long").alias("n_alpha"),
        F.when(
            F.size(t) >= 3,
            F.size(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(t) - 3),
                        lambda i: F.concat_ws(
                            " ",
                            *[F.element_at(t, i + j + 1) for j in range(3)],
                        ),
                    )
                )
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("n_distinct3"),
    )
    nw1 = F.greatest(F.col("n_words"), F.lit(1))
    feats = base.select(
        "doc_id",
        *extra,
        exact_round(
            F.least(F.col("n_words").cast("double") / 100, F.lit(1.0)), 4
        ).alias("f_len"),
        exact_round(F.col("n_alpha").cast("double") / nw1, 4).alias("f_alpha"),
        exact_round(
            F.least(F.col("n_stop").cast("double") / nw1 * 5, F.lit(1.0)), 4
        ).alias("f_stop"),
        exact_round(F.col("n_symbols").cast("double") / nw1, 4).alias("f_sym"),
        exact_round(
            F.when(
                F.col("n_words") >= 3,
                F.lit(1.0)
                - F.col("n_distinct3").cast("double")
                / (F.col("n_words") - 2),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("f_rep"),
        exact_round(
            F.col("n_punct").cast("double")
            / F.greatest(F.col("n_chars_actual"), F.lit(1)),
            4,
        ).alias("f_punct"),
    )
    z = exact_round(
        F.lit(_CLS_BIAS)
        + _CLS_W_LEN * F.col("f_len")
        + _CLS_W_ALPHA * F.col("f_alpha")
        + _CLS_W_STOP * F.col("f_stop")
        + _CLS_W_SYM * F.col("f_sym")
        + _CLS_W_REP * F.col("f_rep")
        + _CLS_W_PUNCT * F.col("f_punct"),
        4,
    )
    scored = feats.withColumn("logit", z)
    score = exact_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), 4)
    keep_feats = (
        ["f_len", "f_alpha", "f_stop", "f_sym", "f_rep", "f_punct"]
        if feature_cols
        else []
    )
    return scored.select(
        "doc_id",
        *extra,
        *keep_feats,
        "logit",
        score.alias("score"),
        (score >= 0.5).alias("verdict"),
    )


@query(
    "quality_classifier_score",
    oracle=classifier_sql(),
    tags=("text", "quality", "extension"),
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic linear quality classifier — the fastText-classifier
    shape (logistic regression over engineered text features) as pure
    column arithmetic: six per-row features (length saturation,
    alphabetic-word fraction, stopword saturation, symbol ratio,
    repeated-3-gram ratio, punctuation density), fixed public weights,
    calibrated score = sigmoid(logit), verdict at 0.5.

    Every feature and the logit are rounded through DECIMAL(28,10) to
    4 dp before combination, so both engines do identical double
    arithmetic and the 0.5 verdict boundary cannot split on a tie.
    Scale shape: a single codegen projection fused into the corpus
    scan (only doc_id+text read) — the same single-pass cost as
    ``gopher_quality_filter``; corpus-level features (rarity, surprisal)
    would join in as broadcast stats without changing the shape."""
    return classifier_frame(load_table(spark, sf_dir, "documents"))


# TF-IDF top terms --------------------------------------------------------
#: per-document keyword count kept by the TF-IDF ranking.
TFIDF_TOP = 3


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w
    ),
    df AS (
      SELECT w, COUNT(*) AS df FROM tf GROUP BY w
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             CAST(ROUND(CAST(
               tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS tfidf
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rk
      FROM scored
    ) WHERE rk <= {TFIDF_TOP}
    """,
    tags=("text", "retrieval", "extension"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keywords: top-{TFIDF_TOP} terms by
    tf · (ln((N+1)/(df+1)) + 1) (smoothed idf — the sklearn-style
    formula, public), deterministic term tiebreak. The classic keyword
    /-relevance baseline next to ``textrank_keywords`` (graph-based)
    and ``bm25_retrieval`` (query-scoped).

    Scale shape: two partial-agg exchanges build tf and df; df and the
    scalar N broadcast back onto tf; the per-doc rank is a
    ``row_number`` + filter → map-side WindowGroupLimit. Scores are
    DECIMAL-rounded so the rank order (and the top-K boundary) is
    engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(tokens()).alias("w"),
    )
    tf = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    tfidf = exact_round(
        F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 4
    )
    scored = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(n))
        .select("doc_id", F.col("w").alias("term"), tfidf.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOP)
    )


# X113 — per-doc language mismatch review queue ---------------------------
@query(
    "lang_mismatch_audit",
    oracle=f"""
    WITH pred AS ({_lang_oracle()}),
    cls AS ({classifier_sql(feature_cols=False)})
    SELECT p.doc_id, p.lang, p.pred_lang, c.score
    FROM pred p JOIN cls c ON c.doc_id = p.doc_id
    WHERE p.pred_lang <> 'unknown' AND p.pred_lang <> p.lang
    """,
    tags=("text", "audit", "quality", "extension"),
)
def lang_mismatch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113: the per-document REVIEW QUEUE behind
    ``lang_id_confusion``'s aggregate matrix — documents whose declared
    ``lang`` label disagrees with the n-gram language-ID prediction
    (confident predictions only; 'unknown' is abstention, not
    disagreement), carrying the quality-classifier score so reviewers
    triage high-value docs first. Mislabeled language is a top cause
    of silent quality loss in multilingual corpora — these rows are
    what a curation team actually clicks through.

    Scale shape: both sides are single narrow codegen projections over
    the same scan; the join is doc-keyed; no window, no corpus-wide
    state. Embeds the registered lang_id and classifier oracle
    fragments verbatim so the audit cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    pred = lang_id(spark, sf_dir)
    cls = classifier_frame(docs, feature_cols=False).select(
        "doc_id", "score"
    )
    return (
        pred.join(cls, "doc_id")
        .filter(
            (F.col("pred_lang") != "unknown")
            & (F.col("pred_lang") != F.col("lang"))
        )
        .select("doc_id", "lang", "pred_lang", "score")
    )


# X117 — per-source quality floor (exact-median gate) ---------------------
@query(
    "per_source_quality_floor",
    oracle=f"""
    WITH cls AS ({classifier_sql(extra_cols=", source",
                                 feature_cols=False)}),
    med AS (
      SELECT source,
             CAST(ROUND(CAST(quantile_cont(score, 0.5) AS DECIMAL(28,10)),
                        4) AS DOUBLE) AS source_median
      FROM cls GROUP BY source
    )
    SELECT c.doc_id, c.source, c.score, m.source_median
    FROM cls c JOIN med m ON m.source = c.source
    WHERE c.score >= m.source_median
    """,
    tags=("text", "quality", "curation", "extension"),
)
def per_source_quality_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: RELATIVE quality gating — keep each source's
    above-median half by classifier score, the per-domain floor used
    when absolute thresholds would wipe out whole (legitimately
    lower-scoring) domains that a global cut like
    ``gopher_quality_filter`` treats uniformly. Median is the EXACT
    interpolated percentile (both engines' continuous-quantile
    definition on identical 4-dp-rounded scores, re-rounded to 4 dp so
    the gate boundary is engine-identical).

    Scale shape: scores are a single narrow projection; the median is
    one partial-agg shuffle to a SOURCE-bounded frame that broadcasts
    back onto the scored scan; the filter fuses into the join
    projection. No window, no corpus-global state."""
    docs = load_table(spark, sf_dir, "documents")
    cls = classifier_frame(docs, extra=("source",), feature_cols=False).select(
        "doc_id", "source", "score"
    )
    med = cls.groupBy("source").agg(
        exact_round(F.percentile("score", F.lit(0.5)), 4).alias("source_median")
    )
    return (
        cls.join(F.broadcast(med), "source")
        .filter(F.col("score") >= F.col("source_median"))
        .select("doc_id", "source", "score", "source_median")
    )


# X122 — vocabulary drift: per-source unigram KL vs the corpus -----------
@query(
    "vocab_drift_report",
    oracle=r"""
    WITH tok AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS w
      FROM documents
    ),
    sw AS (SELECT source, w, COUNT(*) AS c_sw FROM tok GROUP BY source, w),
    cw AS (SELECT w, COUNT(*) AS c_w FROM tok GROUP BY w),
    ns AS (SELECT source, COUNT(*) AS n_s FROM tok GROUP BY source),
    nt AS (SELECT COUNT(*) AS n FROM tok),
    terms AS (
      SELECT sw.source,
             CAST(ROUND(CAST(
               (CAST(sw.c_sw AS DOUBLE) / ns.n_s)
               * ln((CAST(sw.c_sw AS DOUBLE) * nt.n)
                    / (CAST(ns.n_s AS DOUBLE) * cw.c_w))
             AS DECIMAL(18,12)), 12) AS DECIMAL(18,12)) AS term,
             ns.n_s
      FROM sw
      JOIN cw ON cw.w = sw.w
      JOIN ns ON ns.source = sw.source
      CROSS JOIN nt
    )
    SELECT source,
           CAST(ANY_VALUE(n_s) AS BIGINT) AS n_tokens,
           CAST(ROUND(CAST(CAST(SUM(term) AS DOUBLE)
                           AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS kl_vs_corpus
    FROM terms GROUP BY source
    """,
    tags=("text", "audit", "corpus", "extension"),
)
def vocab_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122: TOKEN-DISTRIBUTION drift — per source, the KL divergence
    of its unigram distribution from the whole-corpus distribution
    (every source token also appears corpus-wide, so the ratio is
    always defined). The token-space complement of
    ``semantic_drift_report``'s embedding-space view: a source whose
    KL jumps between snapshots changed its language mix, templating,
    or crawl quality — the trigger for re-running the quality gates on
    that source.

    Float discipline: each (source, token) contribution is an exact
    integer-ratio expression rounded to a DECIMAL(18,12) constant, so
    the per-source sum is order-independent decimal addition; one
    rounded cast at the end. Plan: token counts partial-aggregate;
    corpus marginals and totals are vocabulary-sized/scalar broadcasts
    back onto the per-source counts — never a corpus-wide shuffle of
    text."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(tokens()).alias("w"),
    )
    sw = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_sw"))
    cw = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    ns = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    nt = tok.agg(F.count(F.lit(1)).alias("n"))
    term = (
        F.round(
            (
                (F.col("c_sw").cast("double") / F.col("n_s"))
                * F.log(
                    (F.col("c_sw").cast("double") * F.col("n"))
                    / (F.col("n_s").cast("double") * F.col("c_w"))
                )
            ).cast("decimal(18,12)"),
            12,
        )
        .cast("decimal(18,12)")
        .alias("term")
    )
    terms = (
        sw.join(F.broadcast(cw), "w")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nt))
        .select("source", term, "n_s")
    )
    return terms.groupBy("source").agg(
        F.any_value("n_s").cast("bigint").alias("n_tokens"),
        exact_round(F.sum("term").cast("double"), 6).alias("kl_vs_corpus"),
    )


# X127 — encoding-anomaly audit -------------------------------------------
@query(
    "encoding_anomaly_report",
    oracle="""
    WITH feed AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN replace(text, 'e', chr(65533))
                  ELSE text END
             || CASE WHEN doc_id % 11 = 3 THEN chr(7) ELSE '' END AS text
      FROM documents
    ),
    d AS (
      SELECT source,
             length(text) - length(replace(text, chr(65533), ''))
               AS n_repl,
             length(text) - length(replace(text, chr(7), '')) AS n_ctrl
      FROM feed
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_repl + n_ctrl > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_flagged,
           CAST(SUM(n_repl) AS BIGINT) AS n_replacement_chars,
           CAST(SUM(n_ctrl) AS BIGINT) AS n_control_chars,
           CAST(ROUND(CAST(
             SUM(CASE WHEN n_repl + n_ctrl > 0 THEN 1 ELSE 0 END)
               * 1.0 / COUNT(*) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS flagged_share
    FROM d GROUP BY source
    """,
    tags=("textstats", "quality", "audit", "extension"),
)
def encoding_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X127: the ENCODING-HEALTH audit a crawl ingest runs before any
    text operator trusts the bytes: per source, documents carrying
    U+FFFD replacement characters (the scar a lossy decode leaves) or
    control characters — the signal for a broken upstream decoder or a
    mis-sniffed charset, reported as counts + flagged share.

    The synthetic corpus is clean, so the feed stage SYNTHESIZES the
    damage deterministically in-plan (the ``corpus_snapshot_diff``
    discipline): docs ``%7==0`` get their 'e's mangled to U+FFFD,
    docs ``%11==3`` gain a trailing BEL. Both engines build the same
    feed, so the audit itself — not the corruption — is what parity
    checks.

    Scale shape: two narrow length-difference counters in the scan
    projection (no regex, no UDF), one partial-agg exchange on source.
    Only (source, two ints) shuffle; text never leaves the scan."""
    docs = load_table(spark, sf_dir, "documents")
    feed = F.concat(
        F.when(
            F.col("doc_id") % 7 == 0,
            F.replace(F.col("text"), F.lit("e"), F.lit("�")),
        ).otherwise(F.col("text")),
        F.when(F.col("doc_id") % 11 == 3, F.lit("\x07")).otherwise(
            F.lit("")
        ),
    )

    def count_char(c: str) -> F.Column:
        return F.length(F.col("t")) - F.length(
            F.replace(F.col("t"), F.lit(c), F.lit(""))
        )

    d = docs.select(
        "source", feed.alias("t")
    ).select(
        "source",
        count_char("�").alias("n_repl"),
        count_char("\x07").alias("n_ctrl"),
    )
    flagged = (F.col("n_repl") + F.col("n_ctrl") > 0).cast("int")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flagged).alias("n_flagged"),
        F.sum("n_repl").alias("n_replacement_chars"),
        F.sum("n_ctrl").alias("n_control_chars"),
        exact_round(
            F.sum(flagged) * F.lit(1.0) / F.count(F.lit(1)), 4
        ).alias("flagged_share"),
    )


# X133 — character-entropy quality gate ------------------------------------
#: minimum Shannon char entropy (bits) for the keep gate — natural text
#: sits ≈ 4.0-4.3; low entropy = repeated chars / templating / binary
#: junk. 4.1 splits the synthetic corpus roughly in half at every SF.
ENTROPY_MIN = 4.1
#: the DECLARED alphabet: entropy is computed over these symbols plus
#: one lumped "other" bucket for anything else (the fixed-symbol form
#: every count can be computed with length/replace string arithmetic —
#: no per-character arrays; quote characters deliberately excluded from
#: the literal set, they land in "other").
ENTROPY_ALPHABET = " abcdefghijklmnopqrstuvwxyz0123456789.,!?-"


def _entropy_exprs_sql() -> tuple[str, str, str, str]:
    """(k-columns, entropy-term chain, distinct-count chain, other) —
    the generated SQL fragments of the fixed-alphabet entropy."""
    ks = ",\n             ".join(
        f"(length(s) - length(replace(s, '{c}', ''))) AS k{i}"
        for i, c in enumerate(ENTROPY_ALPHABET)
    )
    names = [f"k{i}" for i in range(len(ENTROPY_ALPHABET))] + ["ko"]
    other = "(n - (" + " + ".join(names[:-1]) + "))"

    def term(k: str) -> str:
        p = f"({k} / CAST(n AS DOUBLE))"
        return (
            f"(CASE WHEN {k} > 0 THEN CAST(ROUND(CAST("
            f"-{p} * log2({p}) AS DECIMAL(18,12)), 12) AS DOUBLE) "
            f"ELSE 0.0 END)"
        )

    chain = " + ".join(term(k) for k in names)
    nd = " + ".join(f"(CASE WHEN {k} > 0 THEN 1 ELSE 0 END)" for k in names)
    return ks, chain, nd, other


@query(
    "char_entropy_filter",
    oracle=(lambda _ks, _chain, _nd, _other: f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS s, length(text) AS n
      FROM documents WHERE length(text) > 0
    ),
    k AS (
      SELECT doc_id, n,
             {_ks}
      FROM d
    ),
    e AS (
      SELECT doc_id, n, {_other} AS ko,
             * EXCLUDE (doc_id, n)
      FROM k
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars_total,
           CAST({_nd} AS BIGINT) AS n_distinct_chars,
           CAST(ROUND(CAST(({_chain}) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS char_entropy,
           CAST(ROUND(CAST(({_chain}) AS DECIMAL(28,10)), 4) AS DOUBLE)
             >= {ENTROPY_MIN} AS keep
    FROM e
    """)(*_entropy_exprs_sql()),
    tags=("text", "extension"),
)
def char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X133: SHANNON CHARACTER ENTROPY gate — H = -Σ p_c·log2(p_c)
    over the document's character distribution; low-entropy docs are
    repeated-char runs, templating, or mis-decoded binary that
    token-level gates (Gopher, classifier, perplexity) measure less
    directly. keep = H ≥ {ENTROPY_MIN} bits.

    The distribution is over the DECLARED ``ENTROPY_ALPHABET`` plus one
    lumped "other" symbol — the fixed-symbol form whose counts are pure
    length/replace string arithmetic. The first cut of this operator
    built per-row char arrays and filtered them per distinct char
    (O(distinct×len) interpreted lambdas): correct, but measured 321 s
    at sf0.1. This form is the same mathematics as ~40 codegen string
    ops per row: measured 0.4 s — the UDF-vs-builtin lesson applied
    WITHIN pure-SQL expressions.

    Float discipline: each symbol's contribution is rounded to a
    DECIMAL(18,12) constant and the terms are added in ONE literal
    expression order on both engines; one rounded 4-dp cast at the
    end, gate compares the ROUNDED value (boundary-safe).

    Scale shape: two narrow codegen projections over the scan — no
    array, no explode, no shuffle, no window; text never leaves the
    scan."""
    # r11 (driver-overhead fix): the previous Column-API form built
    # ~43 count columns + a 44-term CASE chain one py4j call at a time
    # — measured ~2 s of pure Python/py4j DataFrame CONSTRUCTION per
    # invocation (wall 5-6 s vs <1 s executor time). The engine now
    # consumes the SAME generated SQL fragments the oracle embeds
    # (_entropy_exprs_sql — length/replace/log2/CASE are identical
    # functions in Spark SQL), via three selectExpr calls: the
    # expression tree, the plan, and the results are unchanged; only
    # the construction path is (hundreds of JVM round trips -> 3).
    ks, chain, nd, other = _entropy_exprs_sql()
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .selectExpr("doc_id", "lower(text) AS s", "length(text) AS n")
    )
    k = d.selectExpr(
        "doc_id", "n", *[e.strip() for e in ks.split(",\n")]
    )
    e = k.selectExpr("*", f"{other} AS ko")
    return e.selectExpr(
        "doc_id",
        "CAST(n AS BIGINT) AS n_chars_total",
        f"CAST({nd} AS BIGINT) AS n_distinct_chars",
        f"CAST(ROUND(CAST(({chain}) AS DECIMAL(28,10)), 4) AS DOUBLE)"
        " AS char_entropy",
    ).withColumn("keep", F.col("char_entropy") >= ENTROPY_MIN)


# X166 — PSI distribution-drift report --------------------------------------
#: PSI length-bucket width (tokens) and cap bucket.
PSI_BUCKET_TOKENS = 64
PSI_MAX_BUCKET = 8


@query(
    "psi_drift_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
               AS x,
             substr(md5('ps-' || CAST(doc_id AS VARCHAR)), 1, 1) AS nib
      FROM documents
    ),
    a AS (
      SELECT LEAST(CAST(FLOOR(x / {PSI_BUCKET_TOKENS}.0) AS BIGINT),
                   {PSI_MAX_BUCKET}) AS bucket
      FROM t
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR(
               (CASE WHEN nib = '1' THEN x * 2 ELSE x END)
               / {PSI_BUCKET_TOKENS}.0) AS BIGINT),
             {PSI_MAX_BUCKET}) AS bucket
      FROM t WHERE nib <> '0'
    ),
    spine AS (
      SELECT CAST(u.i AS BIGINT) AS bucket
      FROM UNNEST(range(0, {PSI_MAX_BUCKET + 1})) AS u(i)
    ),
    ca AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM a GROUP BY bucket),
    cb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b
           FROM b GROUP BY bucket),
    na AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_a FROM a),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_b FROM b)
    SELECT s.bucket,
           COALESCE(ca.n_a, 0) AS n_a,
           COALESCE(cb.n_b, 0) AS n_b,
           CAST(ROUND(CAST(
             CAST(COALESCE(ca.n_a, 0) + 1 AS DOUBLE)
             / CAST(na.tot_a + {PSI_MAX_BUCKET + 1} AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS p_a,
           CAST(ROUND(CAST(
             CAST(COALESCE(cb.n_b, 0) + 1 AS DOUBLE)
             / CAST(nb.tot_b + {PSI_MAX_BUCKET + 1} AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS p_b,
           CAST(ROUND(CAST(
             (CAST(COALESCE(ca.n_a, 0) + 1 AS DOUBLE)
              / CAST(na.tot_a + {PSI_MAX_BUCKET + 1} AS DOUBLE)
              - CAST(COALESCE(cb.n_b, 0) + 1 AS DOUBLE)
                / CAST(nb.tot_b + {PSI_MAX_BUCKET + 1} AS DOUBLE))
             * log2((CAST(COALESCE(ca.n_a, 0) + 1 AS DOUBLE)
                     / CAST(na.tot_a + {PSI_MAX_BUCKET + 1} AS DOUBLE))
                    / (CAST(COALESCE(cb.n_b, 0) + 1 AS DOUBLE)
                       / CAST(nb.tot_b + {PSI_MAX_BUCKET + 1} AS DOUBLE)))
             AS DECIMAL(18,12)), 12) AS DOUBLE) AS psi_term
    FROM spine s
    LEFT JOIN ca ON s.bucket = ca.bucket
    LEFT JOIN cb ON s.bucket = cb.bucket
    CROSS JOIN na CROSS JOIN nb
    """,
    tags=("text", "quality", "drift", "extension"),
)
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X166: POPULATION STABILITY INDEX over the document-length
    distribution — the ML-monitoring standard for "did my feature
    drift between snapshots": bucket token counts, compare bucket
    shares p vs q with PSI terms (p−q)·log2(p/q) (log2 variant; the
    conventional ln form is a constant factor). The drifted snapshot
    is synthesized deterministically IN-PLAN (the X123 snapshot-diff
    discipline): 1/16 of docs deleted, 1/16 length-doubled — so the
    audit itself, not a data accident, is what parity checks. Σ of the
    column is the PSI; > 0.2-by-ln-convention flags retraining.

    Float discipline: Laplace-smoothed shares (+1/+B) keep every
    bucket's log finite; each PSI term follows the X133 entropy
    idiom — the full term rounded to a 12-dp DECIMAL constant (log2
    agrees across engines well inside 12 dp on these magnitudes).

    Plan: one narrow token-count/hash projection feeds BOTH snapshot
    branches (no second scan); two bucket partial-aggs over the
    constant 9-bucket spine; scalar totals broadcast. One scan at any
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(tokens()).cast("long").alias("x"),
        F.substring(
            F.md5(F.concat(F.lit("ps-"), F.col("doc_id").cast("string"))),
            1,
            1,
        ).alias("nib"),
    )

    def bucket(x: F.Column) -> F.Column:
        return F.least(
            F.floor(x / float(PSI_BUCKET_TOKENS)).cast("bigint"),
            F.lit(PSI_MAX_BUCKET).cast("bigint"),
        )

    a = t.select(bucket(F.col("x")).alias("bucket"))
    b = t.filter(F.col("nib") != "0").select(
        bucket(
            F.when(F.col("nib") == "1", F.col("x") * 2).otherwise(F.col("x"))
        ).alias("bucket")
    )
    spine = spark.range(PSI_MAX_BUCKET + 1).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    ca = a.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    cb = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b")
    )
    na = a.agg(F.count(F.lit(1)).cast("bigint").alias("tot_a"))
    nb = b.agg(F.count(F.lit(1)).cast("bigint").alias("tot_b"))
    n_a = F.coalesce("n_a", F.lit(0)).cast("bigint")
    n_b = F.coalesce("n_b", F.lit(0)).cast("bigint")
    B = PSI_MAX_BUCKET + 1
    p_a = (n_a + 1).cast("double") / (F.col("tot_a") + B).cast("double")
    p_b = (n_b + 1).cast("double") / (F.col("tot_b") + B).cast("double")
    return (
        spine.join(ca, "bucket", "left")
        .join(cb, "bucket", "left")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "bucket",
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            exact_round(p_a, 6).alias("p_a"),
            exact_round(p_b, 6).alias("p_b"),
            F.round(
                ((p_a - p_b) * F.log2(p_a / p_b)).cast("decimal(18,12)"),
                12,
            )
            .cast("double")
            .alias("psi_term"),
        )
    )


# X177 — overlapping (strided) RAG chunker ----------------------------------
#: overlap chunker: window size and stride (50% overlap).
OVL_CHUNK_TOKENS = 128
OVL_STRIDE = 64


@query(
    "doc_chunk_overlap",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      FROM documents
    )
    SELECT doc_id, CAST(c.i AS BIGINT) AS chunk_idx,
           CAST(c.i * {OVL_STRIDE} AS BIGINT) AS start_tok,
           CAST(len(toks[c.i * {OVL_STRIDE} + 1
                         : c.i * {OVL_STRIDE} + {OVL_CHUNK_TOKENS}])
                AS BIGINT) AS n_tokens,
           array_to_string(
             toks[c.i * {OVL_STRIDE} + 1
                  : c.i * {OVL_STRIDE} + {OVL_CHUNK_TOKENS}],
             ' ') AS chunk_text
    FROM t, LATERAL (
      SELECT unnest(range(0,
        CAST(FLOOR((len(toks) - 1) / {OVL_STRIDE}.0) AS BIGINT) + 1))
        AS i
    ) c
    WHERE len(toks) > 0
    """,
    tags=("text", "packing", "llm", "extension"),
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177: OVERLAPPING chunker — the RAG-ingestion standard
    ``doc_chunk_tokens`` (fixed grid) is not: {OVL_CHUNK_TOKENS}-token
    windows every {OVL_STRIDE} tokens (50% overlap), so no answer span
    is ever split across a chunk boundary without also appearing whole
    in a neighbor — the retrieval-recall property overlap exists to
    buy, paid for with 2x index size. Starts run while s < len;
    trailing chunks are ragged (loaders dedupe by span).

    Plan: same pure row-expanding narrow map as the grid chunker —
    tokenize once, sequence+transform+posexplode, no shuffle; rides
    the scan parallelism at any scale."""
    toks = F.col("__toks")
    n_starts = (
        F.floor((F.size(toks) - 1) / F.lit(float(OVL_STRIDE))).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda i: F.struct(
            (i * OVL_STRIDE).alias("start"),
            F.slice(toks, i * OVL_STRIDE + 1, OVL_CHUNK_TOKENS).alias(
                "body"
            ),
        ),
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            tokens().alias("__toks"),
        )
        .filter(F.size(toks) > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "__c"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("__c.start").cast("long").alias("start_tok"),
            F.size("__c.body").cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.col("__c.body")).alias("chunk_text"),
        )
    )


# X202 — tokenizer fertility report ----------------------------------------
@query(
    "tokenizer_fertility_report",
    oracle=f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '\\S+'))) AS BIGINT) AS ws_tokens,
           CAST(SUM({_count_sql(_BPE)}) AS BIGINT) AS bpe_tokens,
           CAST(ROUND(CAST(
             CAST(SUM({_count_sql(_BPE)}) AS DOUBLE)
             / GREATEST(CAST(SUM(len(regexp_extract_all(lower(text), '\\S+'))) AS DOUBLE), 1.0)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS fertility,
           CAST(ROUND(CAST(
             CAST(SUM(n_chars) AS DOUBLE)
             / GREATEST(CAST(SUM({_count_sql(_BPE)}) AS DOUBLE), 1.0)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS chars_per_token
    FROM documents
    GROUP BY lang, source
    """,
    tags=("textstats", "tokenizer", "extension"),
)
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X202: TOKENIZER FERTILITY per (lang, source) — subword tokens
    per whitespace word and chars per subword token, the standard
    readout for "how expensive is this slice to train on" and the
    first thing checked when a tokenizer underserves a language
    (fertility spikes on scripts the merges never saw). Uses the
    engine's two tokenizers (``parity.tokens()`` words, ``_BPE``
    pretokenizer) so the ratio is consistent with token_count /
    compression_ratio.

    Plan: both token counts are narrow JVM regexp projections fused
    into the scan; one (lang, source) partial-agg exchange of five
    integer sums; ratios are single IEEE divisions rounded through
    DECIMAL(28,10) at the edge. Integer sums are order-free, so the
    report is layout-independent at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens())).alias("ws_tokens"),
        F.sum(_count(_BPE)).alias("bpe_tokens"),
        F.sum("n_chars").alias("sum_chars"),
    )
    def ratio(num, den):
        return exact_round(
            num.cast("double") / F.greatest(den.cast("double"), F.lit(1.0)), 6
        )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        ratio(F.col("bpe_tokens"), F.col("ws_tokens")).alias("fertility"),
        ratio(F.col("sum_chars"), F.col("bpe_tokens")).alias(
            "chars_per_token"
        ),
    )


# X203 — document-length power-law fit -------------------------------------
#: fixed tail threshold (chars) for the Pareto MLE — pinned, never
#: data-dependent, so incremental refits on new batches are comparable.
PLAW_XMIN = 100.0


@query(
    "doclen_power_law_fit",
    oracle=f"""
    WITH tail AS (
      SELECT CAST(ROUND(CAST(ln(CAST(n_chars AS DOUBLE) / {PLAW_XMIN})
                             AS DECIMAL(18,12)), 12) AS DECIMAL(18,12))
               AS lt
      FROM documents WHERE n_chars >= {PLAW_XMIN}
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
             CAST(SUM(lt) AS DECIMAL(38,12)) AS sum_ln
      FROM tail
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents)
    SELECT t.n_total, s.n_tail,
           CAST(ROUND(CAST(CAST(s.n_tail AS DOUBLE)
                           / CAST(t.n_total AS DOUBLE)
                           AS DECIMAL(28,10)), 6) AS DOUBLE) AS tail_share,
           CAST(ROUND(CAST(
             1.0 + CAST(s.n_tail AS DOUBLE)
                   / NULLIF(CAST(s.sum_ln AS DOUBLE), 0.0)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS alpha
    FROM s, t
    """,
    tags=("textstats", "statistics", "extension"),
)
def doclen_power_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X203: PARETO (power-law) tail fit over document lengths — the
    Clauset-style MLE alpha = 1 + n / Σ ln(x/xmin) over the ≥xmin
    tail, plus the tail share. The corpus-shape diagnostic behind
    packing and truncation policy: alpha says how heavy the long-doc
    tail really is (and whether a max-length cut loses mass).

    Float discipline: each ln(x/xmin) term is rounded to a 12-dp
    DECIMAL before the sum, so the reduction is order-independent
    and engine-identical (the psi_drift_report idiom); the two final
    ratios are one IEEE expression each. xmin is PINNED (never a
    data-dependent percentile) so refits on growing corpora compare.

    Plan: one filtered narrow projection, one global partial-agg
    reduction to a single row each for tail and total — no shuffle
    wider than an AggregateExec at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    lt = F.round(
        F.log(F.col("n_chars").cast("double") / F.lit(PLAW_XMIN)).cast(
            "decimal(18,12)"
        ),
        12,
    ).cast("decimal(18,12)")
    s = (
        docs.filter(F.col("n_chars") >= F.lit(PLAW_XMIN))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tail"),
            F.sum(lt).cast("decimal(38,12)").alias("sum_ln"),
        )
    )
    t = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    j = s.crossJoin(F.broadcast(t))
    return j.select(
        "n_total",
        "n_tail",
        exact_round(
            F.col("n_tail").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("tail_share"),
        exact_round(
            F.lit(1.0)
            + F.col("n_tail").cast("double")
            / F.nullif(F.col("sum_ln").cast("double"), F.lit(0.0)),
            6,
        ).alias("alpha"),
    )


# X228 — sentence segmentation stats -------------------------------------------
#: sentence boundary: '.', '!' or '?' runs followed by whitespace/EOT.
_SENT_SPLIT = r"[.!?]+(\s+|$)"


@query(
    "sentence_split_stats",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_split_to_array(text, '{_SENT_SPLIT}'),
                 x -> trim(x)),
               x -> len(x) > 0) AS sents
      FROM documents
    )
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(COALESCE(list_sum(
             list_transform(sents, x -> len(x))), 0) AS BIGINT)
             AS sum_sent_chars,
           CAST(ROUND(CAST(
             CAST(COALESCE(list_sum(
               list_transform(sents, x -> len(x))), 0) AS DOUBLE)
             / GREATEST(len(sents), 1) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS mean_sent_len,
           CAST(COALESCE(list_max(
             list_transform(sents, x -> len(x))), 0) AS BIGINT)
             AS max_sent_len
    FROM s
    """,
    tags=("textstats", "extension"),
)
def sentence_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X228: SENTENCE segmentation stats — per document, the sentence
    count and length profile under a deterministic terminal-punctuation
    splitter. The missing granularity between token stats (X31) and
    the strided chunker (doc_chunk_overlap): packing and context-window
    policies are usually expressed in SENTENCES ("never split inside
    one"), and a max_sent_len outlier is the classic symptom of
    boilerplate/code masquerading as prose.

    Plan: split + trim + filter + three reductions are ONE narrow
    per-doc HOF projection fused into the scan — no shuffle, no UDF.
    Counts exact integers; the mean is one rounded IEEE division."""
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), _SENT_SPLIT),
            lambda x: F.trim(x),
        ),
        lambda x: F.length(x) > 0,
    )
    lens = F.transform(F.col("sents"), lambda x: F.length(x))
    base = docs.select("doc_id", sents.alias("sents")).select(
        "doc_id",
        F.size("sents").cast("bigint").alias("n_sentences"),
        F.coalesce(
            F.aggregate(
                lens, F.lit(0), lambda acc, x: acc + x
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_sent_chars"),
        F.coalesce(F.array_max(lens), F.lit(0))
        .cast("bigint")
        .alias("max_sent_len"),
    )
    return base.select(
        "doc_id",
        "n_sentences",
        "sum_sent_chars",
        exact_round(
            F.col("sum_sent_chars").cast("double")
            / F.greatest(F.col("n_sentences"), F.lit(1)).cast(
                "double"
            ),
            4,
        ).alias("mean_sent_len"),
        "max_sent_len",
    )


# X247 — Heaps-law vocabulary growth curve ----------------------------------
#: checkpoint fractions of the total token stream (powers of two, so
#: N_k = ceil(total · f) is exact double arithmetic in both engines).
_HEAPS_DENOMS = (64, 32, 16, 8, 4, 2, 1)


@query(
    "heaps_law_curve",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    e AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    g AS (
      SELECT tok,
             row_number() OVER (ORDER BY doc_id, pos) AS gidx
      FROM e
    ),
    firsts AS (SELECT tok, MIN(gidx) AS first_idx FROM g GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM g),
    cks AS (
      SELECT den.den AS denom,
             CAST(CEIL(tot.total * (1.0 / den.den)) AS BIGINT)
               AS n_tokens
      FROM (VALUES {", ".join(f"({d})" for d in _HEAPS_DENOMS)})
             AS den(den) CROSS JOIN tot
    )
    SELECT cks.denom, cks.n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size
    FROM cks JOIN firsts ON firsts.first_idx <= cks.n_tokens
    GROUP BY cks.denom, cks.n_tokens
    """,
    tags=("text", "extension", "vocab"),
)
def heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X247: Heaps-law vocabulary-growth curve — distinct-type count
    after the first N tokens of the doc_id-ordered corpus stream, at a
    ladder of N = ceil(total/denom) checkpoints. The curve (V ≈ K·Nᵝ,
    Heaps 1978 — public) is what you extrapolate to size tokenizer
    vocabularies and dedup hash tables before committing a full-corpus
    pass.

    Scale shape: the GLOBAL token index never materializes through a
    global sort — per-doc token counts feed the two-phase distributed
    ``prefix_sum`` (bucket carry over doc_id ranges), each token's
    index is offset + within-doc position (narrow), first occurrences
    are one (tok)-keyed min-agg with map-side partials, and the
    checkpoint comparison is a 7-row broadcast against the vocabulary.
    The oracle states the same semantics with a plain global window."""
    from ..functions.windows import prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    toks = docs.select("doc_id", t.alias("t"))
    counts = toks.select("doc_id", F.size("t").cast("bigint").alias("n"))
    offsets = prefix_sum(counts, F.col("n"), "doc_id", "cum").select(
        "doc_id", (F.col("cum") - F.col("n")).alias("off")
    )
    e = toks.select(
        "doc_id", F.posexplode("t").alias("p", "tok")
    ).join(F.broadcast(offsets), "doc_id")
    # 1-based global index, identical to the oracle's row_number over
    # (doc_id, pos)
    g = e.select("tok", (F.col("off") + F.col("p") + 1).alias("gidx"))
    firsts = g.groupBy("tok").agg(F.min("gidx").alias("first_idx"))
    total = g.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    cks = total.select(
        F.explode(
            F.array(*[F.lit(d) for d in _HEAPS_DENOMS])
        ).alias("denom"),
        "total",
    ).select(
        "denom",
        F.ceil(F.col("total") * (F.lit(1.0) / F.col("denom")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return (
        firsts.join(
            F.broadcast(cks),
            F.col("first_idx") <= F.col("n_tokens"),
        )
        .groupBy("denom", "n_tokens")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"))
    )


# X255 — inter-rater agreement (Cohen's kappa) ------------------------------
#: rule-rater thresholds: chars-based rater A, token-based rater B.
KAPPA_CHARS_MIN = 500
KAPPA_TOKENS_MIN = 80


@query(
    "rater_agreement_kappa",
    oracle=f"""
    WITH r AS (
      SELECT CASE WHEN n_chars >= {KAPPA_CHARS_MIN} THEN 1 ELSE 0 END AS a,
             CASE WHEN len(regexp_extract_all(lower(text), '\\S+')) >= {KAPPA_TOKENS_MIN}
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
             CAST(SUM(a) AS BIGINT) AS na,
             CAST(SUM(b) AS BIGINT) AS nb
      FROM r
    )
    SELECT n, n11, n00, na, nb,
           CAST(ROUND(CAST(
             CAST(n11 + n00 AS DOUBLE) / n AS DECIMAL(28,10)), 6)
             AS DOUBLE) AS p_observed,
           CAST(ROUND(CAST(
             (CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
             + (1.0 - CAST(na AS DOUBLE) / n)
               * (1.0 - CAST(nb AS DOUBLE) / n)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS p_expected,
           CAST(ROUND(CAST(
             (CAST(n11 + n00 AS DOUBLE) / n
              - ((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                 + (1.0 - CAST(na AS DOUBLE) / n)
                   * (1.0 - CAST(nb AS DOUBLE) / n)))
             / (1.0 - ((CAST(na AS DOUBLE) / n) * (CAST(nb AS DOUBLE) / n)
                       + (1.0 - CAST(na AS DOUBLE) / n)
                         * (1.0 - CAST(nb AS DOUBLE) / n)))
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS kappa
    FROM c
    """,
    tags=("text", "stats", "extension"),
)
def rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X255: COHEN'S KAPPA between two deterministic quality raters —
    the agreement statistic a labeling pipeline reports before
    trusting rule-based (or model-based) document quality labels:
    observed agreement corrected for the agreement two independent
    raters with these marginals would reach by chance. Rater A is the
    char-length rule, rater B the whitespace-token rule — correlated
    but not identical, so kappa lands strictly between 0 and 1 and
    the chance-correction path is actually exercised.

    Exactness: the 2×2 confusion cells are pure integer sums (one
    agg); kappa is scalar double arithmetic on those integers, emitted
    6-dp-decimal-rounded — identical on any engine.

    Scale shape: ONE full-scan partial aggregation (no keys — the agg
    collapses to one row per task before the 1-row exchange); the
    regex token count is the module's shared JVM-side
    `regexp_extract_all` (no UDF). At 100 TB: a single pass,
    map-side-combined to 32 partial rows."""
    a = F.when(F.col("n_chars") >= KAPPA_CHARS_MIN, 1).otherwise(0)
    b = F.when(F.size(tokens()) >= KAPPA_TOKENS_MIN, 1).otherwise(0)
    r = load_table(spark, sf_dir, "documents").select(
        a.alias("a"), b.alias("b")
    )
    c = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("bigint")
        .alias("n00"),
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pa, pb = F.col("na").cast("double") / nd, F.col("nb").cast("double") / nd
    pe = pa * pb + (1.0 - pa) * (1.0 - pb)
    return c.select(
        "n",
        "n11",
        "n00",
        "na",
        "nb",
        exact_round(po, 6).alias("p_observed"),
        exact_round(pe, 6).alias("p_expected"),
        exact_round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


# X262 — trained naive-Bayes language classifier -----------------------------
#: held-out fold (doc_id % MOD == 0 scores, the rest trains) and the
#: vocabulary df floor.
NB_HOLD_MOD = 4
NB_MIN_DF = 5
#: shared 12-dp decimal rounding for every log term (order-free sums).
_NB_R12 = "CAST(ROUND(CAST({x} AS DECIMAL(28,14)), 12) AS DECIMAL(28,12))"


def _nb_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '\\S+')) AS t
      FROM documents
    ),
    train AS (SELECT * FROM tok WHERE doc_id % {NB_HOLD_MOD} <> 0),
    vocab AS (
      SELECT t FROM train GROUP BY t HAVING COUNT(*) >= {NB_MIN_DF}
    ),
    tc AS (
      SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM train JOIN vocab USING (t) GROUP BY lang, t
    ),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM vocab),
    lt AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS tt FROM tc GROUP BY lang
    ),
    prior AS (
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM train GROUP BY lang
    ),
    ntr AS (SELECT CAST(SUM(nd) AS BIGINT) AS n FROM prior),
    model AS (
      SELECT tc.lang, tc.t,
             {_NB_R12.format(x="ln(CAST(tc.c + 1 AS DOUBLE) / (lt.tt + v.nv))")}
               AS logp
      FROM tc JOIN lt USING (lang), v
    ),
    lmeta AS (
      SELECT p.lang,
             {_NB_R12.format(x="ln(CAST(p.nd AS DOUBLE) / ntr.n)")}
               AS logprior,
             {_NB_R12.format(x="ln(1.0 / (lt.tt + v.nv))")} AS logunseen
      FROM prior p JOIN lt ON lt.lang = p.lang, v, ntr
    ),
    held AS (
      SELECT doc_id, t FROM tok
      WHERE doc_id % {NB_HOLD_MOD} = 0
    ),
    he AS (SELECT held.doc_id, held.t FROM held JOIN vocab USING (t)),
    dn AS (
      SELECT d.doc_id, d.lang AS true_lang,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n_toks
      FROM (SELECT doc_id, lang FROM documents
            WHERE doc_id % {NB_HOLD_MOD} = 0) d
      LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM he GROUP BY doc_id) c
        USING (doc_id)
    ),
    matched AS (
      SELECT he.doc_id, m.lang,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(m.logp) AS DECIMAL(38,12)) AS s
      FROM he JOIN model m USING (t) GROUP BY he.doc_id, m.lang
    ),
    scored AS (
      SELECT dn.doc_id, dn.true_lang, lm.lang,
             CAST(lm.logprior
                  + COALESCE(ma.s, 0)
                  + (dn.n_toks - COALESCE(ma.m, 0)) * lm.logunseen
                  AS DECIMAL(38,12)) AS score
      FROM dn CROSS JOIN lmeta lm
      LEFT JOIN matched ma
        ON ma.doc_id = dn.doc_id AND ma.lang = lm.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, lang ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY true_lang, pred_lang
    """


@query(
    "naive_bayes_lang_confusion",
    oracle=_nb_oracle(),
    tags=("text", "classifier", "extension"),
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X262: TRAINED multinomial naive Bayes language classifier —
    train/score/report in one declarative plan: Laplace-smoothed
    per-(lang, token) log-probabilities from the 3/4 training fold,
    argmax scoring of the held-out fold, confusion matrix out. The
    trained companion to `lang_id`'s rule heuristic (X5) and
    `lang_id_confusion` (X136): same output contract, model learned
    from data — the simplest shape of "fit a text classifier on the
    corpus with the engine itself" (cf. fastText-style supervised
    baselines). On the driver's synthetic docs the lang labels are
    nearly text-independent (shared word-soup vocabulary; the rule
    heuristic X5 scores ~0.29 by answering 'en' everywhere) — the
    trained model reads 0.33-0.36, above 5-class chance and above the
    heuristic, which is the honest ceiling of this data
    (tests/test_new_ops_properties.py asserts the calibrated bound).

    Exactness discipline: EVERY log term (token logp, prior, unseen)
    is 12-dp-decimal-rounded at model build, so per-doc score sums are
    DECIMAL additions — order-independent, engine-identical; argmax
    ties break lexicographically.

    Scale shape: training is two partial-agg shuffles (token counts,
    vocab df floor); the model is dictionary-sized and BROADCASTS into
    the scoring join (exploded held-out tokens equi-join the model,
    then one (doc, lang) partial agg); the doc×lang score spine is a
    4-way broadcast cross of per-lang scalars. No per-doc state beyond
    the agg. At 100 TB: exactly the two-pass count + broadcast-score
    layout a production NB/fastText scorer uses."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens()).alias("t"),
    )
    train = tok.filter(F.col("doc_id") % NB_HOLD_MOD != 0)
    vocab = (
        train.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= NB_MIN_DF)
        .select("t")
    )
    tc = (
        train.join(F.broadcast(vocab), "t")
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    v = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    lt = tc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("tt"))
    prior = (
        train.select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    )
    ntr = prior.agg(F.sum("nd").cast("bigint").alias("n"))
    r12 = lambda c: F.round(c.cast("decimal(28,14)"), 12).cast(
        "decimal(28,12)"
    )
    model = (
        tc.join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            "t",
            r12(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("tt") + F.col("nv"))
                )
            ).alias("logp"),
        )
    )
    lmeta = (
        prior.join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(ntr))
        .select(
            "lang",
            r12(
                F.log(F.col("nd").cast("double") / F.col("n"))
            ).alias("logprior"),
            r12(
                F.log(F.lit(1.0) / (F.col("tt") + F.col("nv")))
            ).alias("logunseen"),
        )
    )
    held = tok.filter(F.col("doc_id") % NB_HOLD_MOD == 0).select(
        "doc_id", "t"
    )
    he = held.join(F.broadcast(vocab), "t")
    dn = (
        docs.filter(F.col("doc_id") % NB_HOLD_MOD == 0)
        .select("doc_id", F.col("lang").alias("true_lang"))
        .join(
            he.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_toks"),
        )
    )
    matched = (
        he.join(F.broadcast(model), "t")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("logp").cast("decimal(38,12)").alias("s"),
        )
    )
    scored = (
        dn.crossJoin(F.broadcast(lmeta))
        # matched is held-corpus-sized — equi-join on (doc_id, lang),
        # never broadcast (AQE picks the strategy; at 100 TB this is
        # the one corpus-scaled hash join of the scorer)
        .join(matched, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (
                F.col("logprior")
                + F.coalesce(F.col("s"), F.lit(0).cast("decimal(38,12)"))
                + (
                    F.col("n_toks") - F.coalesce(F.col("m"), F.lit(0))
                )
                * F.col("logunseen")
            )
            .cast("decimal(38,12)")
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang").asc()
    )
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# X275 — Good-Turing unseen-mass estimate per language ----------------------
@query(
    "good_turing_unseen_mass",
    oracle=r"""
    WITH tok AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '\S+')) AS w
      FROM documents
    ),
    cnt AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_doubletons,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(c) AS DECIMAL(28,10)), 6) AS DOUBLE) AS p_unseen,
           CASE WHEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE CAST(ROUND(CAST(
                  2.0 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                  / SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  AS DECIMAL(28,10)), 6) AS DOUBLE) END AS r_star_1
    FROM cnt GROUP BY lang
    """,
    tags=("text", "statistics", "extension"),
)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X275: GOOD-TURING unseen-mass estimate per language — the
    frequency-of-frequencies statistic a corpus-coverage analysis
    needs: P(next token is UNSEEN) ≈ N1/N (the Good-Turing estimator,
    singletons over total) and the smoothed count for singletons
    r*₁ = 2·N2/N1. A language with high unseen mass is under-sampled
    for its morphology — the signal that drives crawl-more /
    sample-more decisions per language. heaps_law_curve fits vocab
    GROWTH along the ingest order; THIS is the stationary coverage
    estimate on the standing corpus, per language.

    Exactness: counts are pure integers; the two ratios are
    6-dp-decimal-rounded shared-IEEE quotients; r*₁ is NULL when a
    language has no singletons (mirrored CASE in both engines).

    Scale shape: explode → (lang, token) count with map-side partial
    agg (the shuffle carries short tokens + a count), then a
    LANGUAGE-sized second agg over the count-of-count flags — the Q13
    two-level count-of-counts shape on text. No windows, no text
    (only tokens) on the wire."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(tokens()).alias("w"),
    )
    cnt = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    n2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    return cnt.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        n1.cast("bigint").alias("n_singletons"),
        n2.cast("bigint").alias("n_doubletons"),
        exact_round(n1.cast("double") / F.sum("c"), 6).alias("p_unseen"),
        F.when(
            n1 == 0, F.lit(None).cast("double")
        )
        .otherwise(exact_round(F.lit(2.0) * n2 / n1, 6))
        .alias("r_star_1"),
    )
