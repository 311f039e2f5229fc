"""Dataset-curation operators — the sampling / splitting / privacy
surface of a training-data pipeline (X20-X22).

Determinism discipline: every sampling decision is a pure function of
row content (md5 of a stable key), never of partition layout or RNG
state — so results are identical across cluster sizes, retries, and
engines, and the DuckDB oracle can state them exactly. (Spark's
``df.sample`` is seed-stable only for a fixed partitioning; content
hashing is the shape that survives repartitioning at 100 TB.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.parity import exact_round, md5_int, tokens
from ..functions.quantiles import exact_quantiles_two_pass
from ..functions.windows import prefix_sum
from ..registry import query

SAMPLE_PER_STRATUM = 50
#: held-out fraction = 1/16: documents whose md5 first nibble is '0'.
TEST_NIBBLE = "0"
#: context-window token budget for sequence packing.
TOKEN_BUDGET = 2048


# X20 — stratified sampling ----------------------------------------------
@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
      FROM documents
    ) WHERE rn <= {SAMPLE_PER_STRATUM}
    """,
    tags=("sampling", "extension"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X20: N docs per language stratum, chosen by content-hash order —
    a balanced evaluation sample that is stable across runs and
    cluster layouts. Per-stratum ranking window (bounded state); at
    100 TB, pre-filter with an approximate per-stratum hash threshold
    so the window only ranks ~N×safety rows per stratum."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .drop("rn")
    )


# X21 — deterministic train/test split ------------------------------------
@query(
    "train_test_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                     = '{TEST_NIBBLE}'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
    tags=("sampling", "extension"),
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X21: deterministic train/test assignment (1/16 held out) by
    content hash of the document key. Pure narrow map — no shuffle, no
    RNG; the same document lands in the same split on every engine,
    run, and data layout (the property that prevents train/test
    leakage across pipeline versions)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        == TEST_NIBBLE,
        F.lit("test"),
    ).otherwise(F.lit("train"))
    return docs.select("doc_id", split.alias("split"))


# X48 — deterministic importance sampling ---------------------------------
#: length-proportional keep probability saturates here.
SAMPLE_SAT_CHARS = 4000
_U_DENOM = float(1 << 28)  # 28-bit hash → uniform [0,1)


@query(
    "importance_sample_docs",
    oracle=f"""
    SELECT doc_id,
           LEAST(1.0, n_chars / {SAMPLE_SAT_CHARS}.0) AS keep_prob,
           1.0 / LEAST(1.0, n_chars / {SAMPLE_SAT_CHARS}.0) AS ht_weight
    FROM documents
    WHERE CAST(('0x' || substr(md5('samp-' || CAST(doc_id AS VARCHAR)),
                               1, 7)) AS BIGINT) / {_U_DENOM}
          < LEAST(1.0, n_chars / {SAMPLE_SAT_CHARS}.0)
    """,
    tags=("sampling", "extension"),
)
def importance_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48: importance sampling for corpus downscaling — each document
    kept with probability proportional to its length (saturating at
    {sat} chars), and every survivor carries its Horvitz-Thompson
    weight (1/p) so downstream statistics stay unbiased.

    The "randomness" is a salted content hash mapped to [0,1) — the
    determinism discipline of this module: the same doc makes the same
    draw on every engine, run, and partitioning, and the oracle can
    state the sample exactly. Pure narrow map, no shuffle, no RNG
    state."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p = F.least(F.lit(1.0), F.col("n_chars") / SAMPLE_SAT_CHARS)
    u = (
        md5_int(
            F.concat(F.lit("samp-"), F.col("doc_id").cast("string")), 7
        ).cast("long")
        / _U_DENOM
    )
    return docs.filter(u < p).select(
        "doc_id",
        p.alias("keep_prob"),
        (F.lit(1.0) / p).alias("ht_weight"),
    )


# X41 — context-window sequence packing -----------------------------------
@query(
    "doc_pack_assign",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
                 AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_excl
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(cum_excl / {TOKEN_BUDGET}.0) AS BIGINT) AS pack_id,
           CAST(cum_excl % {TOKEN_BUDGET} AS BIGINT) AS pack_offset
    FROM c
    """,
    tags=("sampling", "packing", "extension"),
)
def doc_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41: context-window sequence packing — assign each document a
    (pack_id, pack_offset) laying the corpus end-to-end into
    {TOKEN_BUDGET}-token training sequences in doc_id order (a doc
    straddling a boundary belongs to the pack where it starts — the
    streaming tape layout used for LLM pretraining shards).

    The running token total comes from the distributed two-phase
    ``prefix_sum`` (functions/windows.py) — per-bucket partial sums +
    broadcast carry-ins — NOT a global single-partition window, so the
    layout computation itself scales to 100 TB of documents. The DuckDB
    oracle states the same semantics with a plain global window."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    c = prefix_sum(t, F.col("n_tokens"), "doc_id", "__cum_incl")
    cum_excl = F.col("__cum_incl") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "n_tokens",
        F.floor(cum_excl / TOKEN_BUDGET).cast("long").alias("pack_id"),
        (cum_excl % TOKEN_BUDGET).cast("long").alias("pack_offset"),
    )


# X42 — PII scrubbing (redaction) -----------------------------------------
#: (pattern, replacement) applied IN ORDER — order matters: emails are
#: redacted before the phone pattern can eat their digit runs.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\+?\d[\d \-]{7,}\d", "<PHONE>"),
)


def _pii_oracle() -> str:
    expr = "text"
    for pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT doc_id, {expr} AS clean_text,
           CAST(len(regexp_extract_all({expr}, '<(EMAIL|URL|PHONE)>'))
                AS BIGINT) AS n_redactions
    FROM documents
    """


@query(
    "pii_scrub",
    oracle=_pii_oracle(),
    tags=("sampling", "privacy", "extension"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X42: PII redaction for training corpora — emails, URLs, and
    phone-number runs replaced with typed placeholders, applied in a
    fixed order so the patterns compose deterministically. Pure narrow
    map (JVM codegen regexes, no UDF); n_redactions counts placeholders
    in the final text so downstream quality filters can drop
    redaction-heavy documents."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.col("text")
    for pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(
            F.regexp_extract_all(
                clean, F.lit(r"<(EMAIL|URL|PHONE)>"), 0
            )
        )
        .cast("long")
        .alias("n_redactions"),
    )


# X55 is defined ABOVE X43 deliberately: building X43's oracle imports
# dedup → corpus, and corpus embeds X55's registered oracle text at ITS
# import time — so dataset_mixture must already be in the registry when
# that chain fires (a direct `import operators.sampling` used to hit a
# KeyError mid-cycle; tests/test_import_order.py pins the fix).
# X55 — dataset mixture (weighted multi-source sampling) ------------------
#: per-source target sampling rates for the training mixture. Derived
#: from the source id so the rule is self-contained and scale-free:
#: src{k} keeps (k mod 4 + 1)/4 of its documents — four distinct rates
#: spanning 0.25..1.0, the shape of real mixture configs (upsample
#: high-quality sources, downsample bulk crawl).
_MIX_DENOM = 4


@query(
    "dataset_mixture",
    oracle=f"""
    WITH rated AS (
      SELECT doc_id, source, lang,
             (CAST(regexp_extract(source, '\\d+') AS BIGINT) % {_MIX_DENOM}
              + 1) / {_MIX_DENOM}.0 AS mix_rate
      FROM documents
    )
    SELECT doc_id, source, lang, mix_rate
    FROM rated
    WHERE CAST(('0x' || substr(md5('mix-' || CAST(doc_id AS VARCHAR)),
                               1, 7)) AS BIGINT) / {_U_DENOM} < mix_rate
    """,
    tags=("sampling", "extension", "mixture"),
)
def dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55: training-data mixture sampling — each source contributes a
    configured fraction of its documents (upsample curated sources,
    downsample bulk crawl), decided per document by the same salted
    content-hash draw the other curation operators use.

    Deterministic by construction: the same doc makes the same draw on
    every engine, run, and cluster layout, so the mixture is
    reproducible and the oracle states it exactly. Pure narrow map —
    no shuffle, no RNG, and at 100 TB the filter runs inside the scan
    with the rate expression folded per row."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    rate = (
        F.regexp_extract(F.col("source"), r"\d+", 0).cast("long")
        % _MIX_DENOM
        + 1
    ) / float(_MIX_DENOM)
    u = (
        md5_int(F.concat(F.lit("mix-"), F.col("doc_id").cast("string")), 7).cast("long")
        / _U_DENOM
    )
    return docs.filter(u < rate).select(
        "doc_id", "source", "lang", rate.alias("mix_rate")
    )


# X43 — train/test leakage audit ------------------------------------------
def _leakage_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD, _SHINGLES_SQL

    return f"""
    WITH t AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS inter, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM p
      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       = '{TEST_NIBBLE}'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    )
    SELECT CASE WHEN sa.split = 'train' THEN doc_a ELSE doc_b END
               AS train_doc,
           CASE WHEN sa.split = 'test' THEN doc_a ELSE doc_b END AS test_doc
    FROM pairs
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
    WHERE sa.split <> sb.split
    """


@query(
    "split_leakage_check",
    oracle=_leakage_oracle(),
    tags=("sampling", "dedup", "extension"),
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43: train/test leakage audit — NEAR-duplicate pairs that
    straddle the ``train_test_split`` boundary. The id-hash split
    assigns near-identical documents independently, so near-dups CAN
    land on opposite sides; every such pair inflates eval scores and
    must be surfaced. Composes the 3-gram-Jaccard pair graph with the
    split assignment (two broadcast-able hash joins on doc_id — the
    pair list is tiny relative to the corpus; at 100 TB the pair side
    comes from the LSH candidate path instead)."""
    from .dedup import near_dedup_ngram_jaccard

    pairs = near_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    s = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            == TEST_NIBBLE,
            F.lit("test"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "train", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("train_doc"),
            F.when(F.col("split_a") == "test", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc"),
        )
    )


# X22 — PII pseudonymization ----------------------------------------------
@query(
    "pseudonymize_users",
    oracle="""
    SELECT md5('pepper-42' || CAST(c_custkey AS VARCHAR)) AS key_token,
           md5('pepper-42' || c_name) AS name_token,
           c_nationkey, c_mktsegment, c_acctbal
    FROM customer
    """,
    tags=("sampling", "privacy", "extension"),
)
def pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22: irreversible PII pseudonymization — identifying columns
    replaced by peppered hashes (stable join keys, no plaintext),
    analytic columns kept. Narrow map over the scan; the pepper would
    be a secret at deploy time (constant here for oracle parity)."""
    c = load_table(spark, sf_dir, "customer")
    pepper = F.lit("pepper-42")
    return c.select(
        F.md5(F.concat(pepper, F.col("c_custkey").cast("string"))).alias(
            "key_token"
        ),
        F.md5(F.concat(pepper, F.col("c_name"))).alias("name_token"),
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
    )


# X90 — per-source document caps (CommonCrawl-style domain balancing) ----
#: at most N documents kept per source, best-first by classifier score.
DOMAIN_CAP = 10


def _domain_cap_oracle() -> str:
    from .textstats import classifier_sql

    return f"""
    WITH scored AS ({classifier_sql(extra_cols=", source",
                                    feature_cols=False)})
    SELECT doc_id, source, score,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {DOMAIN_CAP}
    """


@query(
    "domain_cap_sample",
    oracle=_domain_cap_oracle(),
    tags=("sampling", "curation", "extension"),
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90: per-domain/source caps — "at most N docs per source,
    best-first" (the CommonCrawl curation rule that stops one domain
    from dominating the mixture). Documents are ranked inside each
    source by the deterministic classifier score
    (``quality_classifier_score``), doc_id tiebreak, and only the top
    ``DOMAIN_CAP`` survive.

    Scale shape: the ranking is a per-source ``row_number`` window with
    a rank FILTER directly above it — Spark 4 rewrites that to
    ``WindowGroupLimit`` (per-partition top-N heap BEFORE the shuffle,
    plan-asserted in tests/test_plan_shapes.py), so each map task ships
    at most N rows per source instead of the whole corpus. Complements
    ``dataset_mixture`` (rate-based) with a hard cap."""
    from .textstats import classifier_frame

    scored = classifier_frame(
        load_table(spark, sf_dir, "documents"),
        extra=("source",),
        feature_cols=False,
    ).select("doc_id", "source", "score")
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= DOMAIN_CAP)
    )


# X116 — pack-layout boundary audit ---------------------------------------
@query(
    "pack_efficiency_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
                 AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_excl
      FROM t
    ), p AS (
      SELECT CAST(FLOOR(cum_excl / {TOKEN_BUDGET}.0) AS BIGINT) AS pack_id,
             n_tokens,
             CAST(cum_excl % {TOKEN_BUDGET} AS BIGINT) AS pack_offset
      FROM c
    )
    SELECT pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(GREATEST(MAX(pack_offset + n_tokens) - {TOKEN_BUDGET}, 0)
             AS BIGINT) AS overflow_tokens
    FROM p
    GROUP BY pack_id
    """,
    tags=("sampling", "packing", "audit", "extension"),
)
def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: the BOUNDARY AUDIT of the ``doc_pack_assign`` tape layout
    — per training sequence (pack): documents starting in it, their
    token mass, and how many tokens of its straddling tail document
    spill past the window (overflow = attention-mask truncation or
    carry-over, the thing a data-loader team actually tunes the budget
    against).

    Scale shape: reuses the distributed two-phase prefix sum layout
    verbatim (audit-can't-drift), then ONE partial-agg shuffle on
    pack_id."""
    packs = doc_pack_assign(spark, sf_dir)
    return packs.groupBy("pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        F.greatest(
            F.max(F.col("pack_offset") + F.col("n_tokens")) - TOKEN_BUDGET,
            F.lit(0),
        )
        .cast("bigint")
        .alias("overflow_tokens"),
    )


# X120 — PII audit (what the scrub WOULD hit, per source) -----------------
def _pii_audit_oracle() -> str:
    exprs, cur = [], "text"
    for pat, repl in PII_PATTERNS:
        exprs.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT)"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    e_email, e_url, e_phone = exprs
    return f"""
    WITH per_doc AS (
      SELECT source,
             {e_email} AS n_email,
             {e_url} AS n_url,
             {e_phone} AS n_phone
      FROM documents
    )
    SELECT source,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_url) AS BIGINT) AS n_url,
           CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           CAST(SUM(CASE WHEN n_email + n_url + n_phone > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_affected
    FROM per_doc GROUP BY source
    """


@query(
    "pii_audit_report",
    oracle=_pii_audit_oracle(),
    tags=("sampling", "privacy", "audit", "extension"),
)
def pii_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: the BEFORE-scrub audit completing the privacy story
    (audit → ``pii_scrub`` → downstream redaction-density filters):
    per source, how many email/URL/phone hits the scrub would redact
    and how many documents carry any. Counts use the scrub's exact
    ORDERED masking semantics — each type counted on the text after
    the previous replacements, so a URL's digits never double-count
    as a phone number and the audit can never disagree with the scrub
    it predicts.

    Scale shape: one narrow codegen projection (JVM regexes, no UDF)
    + one partial-agg shuffle on source."""
    docs = load_table(spark, sf_dir, "documents")
    cur = F.col("text")
    counts = []
    for pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).cast("long")
        )
        cur = F.regexp_replace(cur, pat, repl)
    n_email, n_url, n_phone = counts
    per_doc = docs.select(
        "source",
        n_email.alias("n_email"),
        n_url.alias("n_url"),
        n_phone.alias("n_phone"),
    )
    any_hit = (
        F.col("n_email") + F.col("n_url") + F.col("n_phone") > 0
    ).cast("int")
    return per_doc.groupBy("source").agg(
        F.sum("n_email").cast("bigint").alias("n_email"),
        F.sum("n_url").cast("bigint").alias("n_url"),
        F.sum("n_phone").cast("bigint").alias("n_phone"),
        F.sum(any_hit).cast("bigint").alias("n_docs_affected"),
    )


# X132 — weighted sampling without replacement (Efraimidis–Spirakis) -------
#: sample size for the weighted draw.
WS_K = 100


@query(
    "weighted_sample_topk",
    oracle=f"""
    WITH k AS (
      SELECT doc_id, n_chars,
             pow(CAST(('0x' || substr(md5('wsk-' || CAST(doc_id AS VARCHAR)),
                                      1, 7)) AS BIGINT) / {_U_DENOM},
                 1.0 / n_chars) AS key_raw
      FROM documents
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           CAST(ROUND(CAST(key_raw AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS es_key
    FROM k
    ORDER BY key_raw DESC, doc_id
    LIMIT {WS_K}
    """,
    tags=("sampling", "extension"),
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132: WEIGHTED sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme: every document draws a salted
    content-hash uniform u and takes priority key u^(1/w) (w = its
    length weight); the top-{WS_K} keys ARE a weight-proportional
    sample without replacement. The classic one-pass distributed
    shape: where ``importance_sample_docs`` keeps each doc
    independently (sample size varies), A-ES delivers an EXACT-size
    sample with inclusion probability ∝ weight.

    Determinism discipline: u is the module's salted md5 uniform —
    same draw on every engine, run, and layout; key computed by one
    identical IEEE pow both engines (emitted rounded to 4 dp).

    Scale shape: key is a narrow projection; top-K is
    ``orderBy().limit(K)`` — TakeOrdered partial top-K per partition +
    a K-row driver merge, never a global sort exchange."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = (
        md5_int(F.concat(F.lit("wsk-"), F.col("doc_id").cast("string")), 7).cast("long")
        / _U_DENOM
    )
    key_raw = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        docs.withColumn("key_raw", key_raw)
        .orderBy(F.col("key_raw").desc(), "doc_id")
        .limit(WS_K)
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            exact_round(F.col("key_raw"), 4).alias("es_key"),
        )
    )


# X146 — deterministic contrastive negatives -------------------------------
#: negatives drawn per anchor document.
NEG_PER_DOC = 3


@query(
    "contrastive_negatives",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    draws AS (
      SELECT d.doc_id, u.j,
             CAST(CAST(('0x' || substr(md5('neg-' || CAST(d.doc_id AS VARCHAR)
                                           || '-' || CAST(u.j AS VARCHAR)),
                                       1, 12)) AS BIGINT)
                  % n.n_docs AS BIGINT) AS raw_neg,
             n.n_docs
      FROM documents d
      CROSS JOIN n
      CROSS JOIN UNNEST(range(0, {NEG_PER_DOC})) AS u(j)
    ),
    fixed AS (
      SELECT doc_id, CAST(j AS BIGINT) AS j,
             CASE WHEN raw_neg = doc_id
                  THEN (raw_neg + 1) % n_docs
                  ELSE raw_neg END AS neg_id
      FROM draws
    )
    SELECT f.doc_id, f.j, f.neg_id,
           a.source AS source, b.source AS neg_source,
           a.lang AS lang, b.lang AS neg_lang,
           a.source <> b.source AS cross_source,
           a.lang <> b.lang AS cross_lang
    FROM fixed f
    JOIN documents a ON a.doc_id = f.doc_id
    JOIN documents b ON b.doc_id = f.neg_id
    """,
    tags=("sampling", "llm", "extension"),
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X146: deterministic NEGATIVE sampling for contrastive training
    (the pairing step behind embedding / retrieval fine-tuning): each
    anchor document draws {NEG_PER_DOC} pseudo-uniform negatives by
    salted content hash over the dense doc_id space (self-draws bump
    to the next id), then fetches the negative's source/lang and flags
    cross-source / cross-lang pairs — the metadata hard-negative
    miners stratify on.

    Determinism discipline: the draw is md5-derived (never RNG), so
    the same anchor makes the same draws on every engine, run, and
    partitioning, and the oracle states the sample exactly. A
    production pipeline additionally anti-joins the drawn pairs
    against the near-dup families (X27/X33/X64) so an accidental
    positive can't be labeled negative; on this corpus the families'
    pair sets are disjoint from the draws.

    Plan: the draw is a narrow per-row explode (no shuffle); the only
    exchanges are the two id-keyed hash joins fetching anchor and
    negative metadata — at 100 TB those are bucketed-table joins on
    doc_id. Negative ids never leave the integer domain; no text
    moves."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    raw = (
        md5_int(
            F.concat(
                F.lit("neg-"),
                F.col("doc_id").cast("string"),
                F.lit("-"),
                F.col("j").cast("string"),
            ),
            12,
        ).cast("bigint")
        % F.col("n_docs")
    )
    draws = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[F.lit(j).cast("bigint") for j in range(NEG_PER_DOC)]
                )
            ).alias("j"),
            "n_docs",
        )
        .select(
            "doc_id",
            "j",
            F.when(raw == F.col("doc_id"), (raw + 1) % F.col("n_docs"))
            .otherwise(raw)
            .alias("neg_id"),
        )
    )
    a = docs.select(
        "doc_id", F.col("source").alias("source"), F.col("lang").alias("lang")
    )
    b = docs.select(
        F.col("doc_id").alias("neg_id"),
        F.col("source").alias("neg_source"),
        F.col("lang").alias("neg_lang"),
    )
    return (
        draws.join(a, "doc_id")
        .join(b, "neg_id")
        .select(
            "doc_id",
            "j",
            "neg_id",
            "source",
            "neg_source",
            "lang",
            "neg_lang",
            (F.col("source") != F.col("neg_source")).alias("cross_source"),
            (F.col("lang") != F.col("neg_lang")).alias("cross_lang"),
        )
    )


# X155 — pack materialization rewrite --------------------------------------
@query(
    "doc_pack_rewrite",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
                 AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, text, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_excl
      FROM t
    )
    SELECT CAST(FLOOR(cum_excl / {TOKEN_BUDGET}.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc_id,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(length(string_agg(text, chr(10) ORDER BY doc_id))
                AS BIGINT) AS packed_chars,
           string_agg(text, chr(10) ORDER BY doc_id) AS packed_text
    FROM c
    GROUP BY 1
    """,
    tags=("sampling", "packing", "llm", "extension"),
)
def doc_pack_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X155: PACK MATERIALIZATION — ``doc_pack_assign`` (X41) decides
    the layout; this op BUILDS the shards: per pack, the documents
    that start in it concatenated in doc_id order (newline-joined),
    with doc/token/char accounting — the physical training-tape
    artifact a pretraining loader memory-maps.

    Plan: the assignment reuses the distributed two-phase
    ``prefix_sum`` (carry window over one row per bucket,
    allowlisted); the single corpus-wide text exchange IS the shard
    write — pack-keyed, exactly one hop for each document body, the
    same unavoidable movement the final sink would pay anyway.
    In-pack order is restored by sort_array on (doc_id, text) structs
    (deterministic: doc_id is the unique sort key), never a window.
    At 100 TB, pack_id is the write-partition column and this plan is
    the partitioned-sink job."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "text",
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    c = prefix_sum(
        t.select("doc_id", "n_tokens"),
        F.col("n_tokens"),
        "doc_id",
        "__cum_incl",
    ).select(
        "doc_id",
        (
            F.floor(
                (F.col("__cum_incl") - F.col("n_tokens")) / TOKEN_BUDGET
            ).cast("long")
        ).alias("pack_id"),
    )
    packed = (
        t.join(c, "doc_id")
        .groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
            F.max("doc_id").cast("bigint").alias("last_doc_id"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sort_array(
                F.collect_list(F.struct("doc_id", "text"))
            ).alias("parts"),
        )
    )
    body = F.concat_ws(
        "\n", F.transform("parts", lambda s: s.getField("text"))
    )
    return packed.select(
        "pack_id",
        "n_docs",
        "first_doc_id",
        "last_doc_id",
        "total_tokens",
        F.length(body).cast("bigint").alias("packed_chars"),
        body.alias("packed_text"),
    )


# X156 — length-bucket padding-waste report --------------------------------
#: token-length bucket width for batch planning.
PAD_BUCKET_TOKENS = 128


@query(
    "padding_waste_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
                 AS n_tokens
      FROM documents
    ),
    g AS (SELECT CAST(MAX(n_tokens) AS BIGINT) AS global_max FROM t),
    b AS (
      SELECT CAST(FLOOR(n_tokens / {PAD_BUCKET_TOKENS}.0) AS BIGINT)
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MAX(n_tokens) AS BIGINT) AS bucket_max,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM t GROUP BY 1
    )
    SELECT b.bucket, b.n_docs, b.bucket_max, b.sum_tokens,
           b.n_docs * b.bucket_max - b.sum_tokens AS pad_bucketed,
           b.n_docs * g.global_max - b.sum_tokens AS pad_naive,
           CASE WHEN b.n_docs * g.global_max - b.sum_tokens > 0
                THEN CAST(ROUND(CAST(
                  CAST(1 AS DOUBLE)
                  - CAST(b.n_docs * b.bucket_max - b.sum_tokens AS DOUBLE)
                    / CAST(b.n_docs * g.global_max - b.sum_tokens AS DOUBLE)
                  AS DECIMAL(28,10)), 4) AS DOUBLE)
                ELSE NULL END AS pad_savings
    FROM b CROSS JOIN g
    """,
    tags=("sampling", "packing", "llm", "extension"),
)
def padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156: LENGTH-BUCKET batching audit — the fine-tuning / inference
    batcher's planning table: bucket documents by token length
    ({PAD_BUCKET_TOKENS}-token bands) and report, per bucket, the
    padding paid when batches pad to the BUCKET max vs padding every
    sequence to the GLOBAL max — pad_savings is the fraction of wasted
    compute length-bucketed batching recovers (the reason dynamic
    batching exists).

    Plan: one narrow token-count projection, one bucket partial-agg
    exchange (|buckets| rows), the 1-row global max broadcast back.
    Integer arithmetic end to end; the single ratio is rounded via the
    decimal idiom. One scan at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    g = t.agg(F.max("n_tokens").cast("bigint").alias("global_max"))
    b = (
        t.select(
            F.floor(F.col("n_tokens") / float(PAD_BUCKET_TOKENS))
            .cast("bigint")
            .alias("bucket"),
            "n_tokens",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("bucket_max"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )
    pad_b = F.col("n_docs") * F.col("bucket_max") - F.col("sum_tokens")
    pad_n = F.col("n_docs") * F.col("global_max") - F.col("sum_tokens")
    return (
        b.crossJoin(F.broadcast(g))
        .select(
            "bucket",
            "n_docs",
            "bucket_max",
            "sum_tokens",
            pad_b.alias("pad_bucketed"),
            pad_n.alias("pad_naive"),
            F.when(
                pad_n > 0,
                exact_round(
                    F.lit(1.0) - pad_b.cast("double") / pad_n.cast("double"), 4
                ),
            ).alias("pad_savings"),
        )
    )


# X204 — curriculum phase assignment ---------------------------------------
#: number of curriculum phases (easy → hard).
CURRICULUM_PHASES = 4


def _curriculum_oracle() -> str:
    ladder = "\n             ".join(
        f"WHEN difficulty <= b.d{i} THEN {i}"
        for i in range(1, CURRICULUM_PHASES)
    )
    qlist = "[" + ", ".join(
        f"{i}.0/{CURRICULUM_PHASES}" for i in range(1, CURRICULUM_PHASES)
    ) + "]"
    qs = ",\n             ".join(
        f"CAST(ROUND(CAST(qv[{i}] AS DECIMAL(28,10)), 4) AS DOUBLE)"
        f" AS d{i}"
        for i in range(1, CURRICULUM_PHASES)
    )
    return f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(ROUND(CAST(
               CAST(n_chars AS DOUBLE)
               / GREATEST(len(regexp_extract_all(lower(text), '\\S+')), 1)
               AS DECIMAL(28,10)), 4) AS DOUBLE) AS difficulty
      FROM documents
    ),
    q AS (SELECT quantile_cont(difficulty, {qlist}) AS qv FROM scored),
    b AS (SELECT {qs} FROM q)
    SELECT s.doc_id, s.difficulty,
           CAST(CASE
             {ladder}
             ELSE {CURRICULUM_PHASES} END AS BIGINT) AS phase
    FROM scored s CROSS JOIN b
    """


@query(
    "curriculum_bucket_assign",
    oracle=_curriculum_oracle(),
    tags=("curation", "sampling", "extension"),
)
def curriculum_bucket_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X204: CURRICULUM phase assignment — every document scored by a
    difficulty proxy (mean chars per whitespace token: longer words ≈
    harder text) and placed into one of {CURRICULUM_PHASES} equal-mass
    phases by exact difficulty quantiles. The artifact a curriculum
    trainer consumes: phase 1 feeds the first epochs, phase
    {CURRICULUM_PHASES} the last.

    Float discipline: difficulty is one IEEE division rounded to 4 dp
    through DECIMAL(28,10) BEFORE the quantile (identical inputs both
    engines); boundaries round the same way before the ladder compare
    (the equi_depth_histogram discipline), so phase membership cannot
    flap on boundary ties.

    Plan: score fused into the scan projection; boundaries come from
    the TWO-PASS pruned exact quantile (functions/quantiles.py —
    bit-identical to F.percentile with no full-column aggregation
    buffer, the equi_depth_histogram scale fix) reducing to a 1-row
    boundary frame, broadcast back via crossJoin; the phase ladder is
    a narrow CASE — no per-row shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(tokens())
    scored = docs.select(
        "doc_id",
        exact_round(
            F.col("n_chars").cast("double") / F.greatest(ws, F.lit(1)).cast("double"), 4
        ).alias("difficulty"),
    ).localCheckpoint()
    # ^ pinned once: the two-pass quantile's three scans plus the final
    # assignment would each replay the regex tokenization otherwise
    # (the quantile_normalize_scores lesson).
    q = exact_quantiles_two_pass(
        scored,
        "difficulty",
        [i / CURRICULUM_PHASES for i in range(1, CURRICULUM_PHASES)],
    )
    bounds = q.select(
        *[
            exact_round(F.element_at("qv", i), 4).alias(f"d{i}")
            for i in range(1, CURRICULUM_PHASES)
        ]
    )
    assigned = scored.crossJoin(F.broadcast(bounds))
    ladder = F.when(F.col("difficulty") <= F.col("d1"), F.lit(1))
    for i in range(2, CURRICULUM_PHASES):
        ladder = ladder.when(
            F.col("difficulty") <= F.col(f"d{i}"), F.lit(i)
        )
    ladder = ladder.otherwise(F.lit(CURRICULUM_PHASES))
    return assigned.select(
        "doc_id", "difficulty", ladder.cast("bigint").alias("phase")
    )


# X218 — Neyman-allocation stratified sample ----------------------------------
#: total sample budget across strata.
NEYMAN_BUDGET = 200


@query(
    "neyman_allocation_sample",
    oracle=f"""
    WITH st AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(n_chars) AS BIGINT) AS s1,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    ),
    sd AS (
      SELECT source, n_h,
             sqrt(GREATEST(CAST(s2 AS DOUBLE) / n_h
                  - (CAST(s1 AS DOUBLE) / n_h)
                    * (CAST(s1 AS DOUBLE) / n_h), 0.0)) AS s_h
      FROM st
    ),
    tot AS (SELECT SUM(n_h * s_h) AS w FROM sd),
    alloc AS (
      SELECT source, n_h,
             LEAST(CAST(FLOOR({NEYMAN_BUDGET}.0 * (n_h * s_h)
                              / (SELECT w FROM tot) + 0.5) AS BIGINT),
                   n_h) AS quota
      FROM sd
    ),
    ranked AS (
      SELECT d.doc_id, d.source, a.quota,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                         d.doc_id) AS rn
      FROM documents d JOIN alloc a USING (source)
    )
    SELECT doc_id, source, CAST(quota AS BIGINT) AS quota
    FROM ranked WHERE rn <= quota
    """,
    tags=("curation", "sampling", "extension"),
)
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X218: NEYMAN-allocation stratified sample — the budget of
    {NEYMAN_BUDGET} docs is split across sources proportional to
    N_h·S_h (stratum size × stratum std of doc length), the
    variance-optimal allocation for estimating a corpus mean from a
    fixed labeling budget (the classical survey-sampling design;
    stratified_sample's fixed-rate sibling). Within each stratum the
    quota is filled by content-hash rank — deterministic, layout-free.

    Exact arithmetic: per-stratum sums and sums of squares are exact
    BIGINTs; S_h and the allocation are one shared IEEE expression;
    the quota integerizes via floor(x + 0.5) — the one half-rule both
    engines share (DuckDB ROUND and Spark ROUND disagree on .5 ties).

    Plan: one source-keyed partial agg builds the allocation (|sources|
    rows, broadcast back); ranking is a PARTITIONED window per source
    (bounded per-group state); no global window, no collect."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_h")
    s_h = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n_h") - mean * mean,
            F.lit(0.0),
        )
    )
    sd = st.select("source", "n_h", s_h.alias("s_h"))
    tot = sd.agg(F.sum(F.col("n_h") * F.col("s_h")).alias("w"))
    alloc = (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_h",
            F.least(
                F.floor(
                    F.lit(float(NEYMAN_BUDGET))
                    * (F.col("n_h") * F.col("s_h"))
                    / F.col("w")
                    + F.lit(0.5)
                ).cast("bigint"),
                F.col("n_h"),
            ).alias("quota"),
        )
        .select("source", "quota")
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = (
        docs.join(F.broadcast(alloc), "source")
        .withColumn("rn", F.row_number().over(w))
    )
    return ranked.filter(F.col("rn") <= F.col("quota")).select(
        "doc_id", "source", F.col("quota").cast("bigint").alias("quota")
    )


# X219 — k-anonymity / l-diversity audit --------------------------------------
#: re-identification risk threshold: classes smaller than this are risky.
K_ANON_MIN = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                      WHEN c_acctbal < 5000 THEN 'low'
                                      ELSE 'high' END) AS BIGINT) AS l
      FROM customer
      GROUP BY 1, 2
    )
    SELECT CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < {K_ANON_MIN} THEN k ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN k < {K_ANON_MIN} THEN k ELSE 0 END)
                  AS DOUBLE) / CAST(SUM(k) AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS at_risk_share,
           CAST(MIN(l) AS BIGINT) AS min_l
    FROM cls
    """,
    tags=("curation", "privacy", "audit", "extension"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X219: K-ANONYMITY / L-DIVERSITY audit over the customer table —
    quasi-identifiers (nation, market segment) define equivalence
    classes; the report gives the smallest class (k), the share of
    rows in classes below k={K_ANON_MIN} (re-identifiable under
    linkage), and the minimum diversity of the sensitive attribute
    (account-balance band) within any class (l=1 means an attacker who
    locates the class learns the sensitive value exactly). The
    release-gating sibling of pii_audit_report: PII scrubbing removes
    direct identifiers; THIS measures the indirect ones.

    Plan: one QI-keyed partial agg (count + conditional distinct-count
    — the band CASE is evaluated pre-shuffle, so the distinct carries
    a 3-value code, not balances) then a single-row reduction. All
    counts exact BIGINTs; one rounded IEEE share."""
    cust = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.countDistinct(band).cast("bigint").alias("l"),
    )
    risky = F.when(F.col("k") < K_ANON_MIN, F.col("k")).otherwise(F.lit(0))
    return cls.agg(
        F.sum("k").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum(risky).cast("bigint").alias("n_rows_at_risk"),
        exact_round(
            F.sum(risky).cast("double") / F.sum("k").cast("double"), 6
        ).alias("at_risk_share"),
        F.min("l").cast("bigint").alias("min_l"),
    )


# X227 — temperature-scaled mixture sample -------------------------------------
#: sampling temperature exponent (0.5 = the multilingual-LM standard
#: "T=2" upsampling of small sources) and the total budget.
TEMP_ALPHA = 0.5
TEMP_BUDGET = 300


@query(
    "temperature_mixture_sample",
    oracle=f"""
    WITH st AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_h
      FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source, n_h,
             pow(CAST(n_h AS DOUBLE), {TEMP_ALPHA}) AS w
      FROM st
    ),
    alloc AS (
      SELECT source, n_h,
             LEAST(CAST(FLOOR({TEMP_BUDGET}.0 * w
                              / (SELECT SUM(w) FROM wts) + 0.5)
                        AS BIGINT), n_h) AS quota
      FROM wts
    ),
    ranked AS (
      SELECT d.doc_id, d.source, a.quota,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5('tmix-'
                                             || CAST(d.doc_id AS VARCHAR)),
                                         d.doc_id) AS rn
      FROM documents d JOIN alloc a USING (source)
    )
    SELECT doc_id, source, CAST(quota AS BIGINT) AS quota
    FROM ranked WHERE rn <= quota
    """,
    tags=("curation", "sampling", "extension"),
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X227: TEMPERATURE-scaled mixture sample — per-source quotas
    ∝ n_h^{TEMP_ALPHA} (α={TEMP_ALPHA}: small sources upsampled
    relative to their share, large ones downsampled — the standard
    multilingual/multi-source LM recipe for keeping long-tail sources
    represented), budget {TEMP_BUDGET}, quotas filled by salted
    content-hash rank. Completes the allocation trio:
    dataset_mixture (fixed rates), neyman_allocation_sample
    (variance-optimal), temperature (representation-optimal).

    Exact arithmetic: counts are BIGINTs; pow/normalize/floor(x+0.5)
    is one shared IEEE expression (the X218 half-rule).

    Plan: one source-keyed count, allocation broadcast back,
    PARTITIONED per-source rank window — identical shape to X218, so
    the two designs differ only in the allocation formula."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h")
    )
    wts = st.select(
        "source",
        "n_h",
        F.pow(F.col("n_h").cast("double"), F.lit(TEMP_ALPHA)).alias("w"),
    )
    tot = wts.agg(F.sum("w").alias("sw"))
    alloc = (
        wts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.floor(
                    F.lit(float(TEMP_BUDGET))
                    * F.col("w")
                    / F.col("sw")
                    + F.lit(0.5)
                ).cast("bigint"),
                F.col("n_h"),
            ).alias("quota"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("tmix-"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    ranked = docs.join(F.broadcast(alloc), "source").withColumn(
        "rn", F.row_number().over(w)
    )
    return ranked.filter(F.col("rn") <= F.col("quota")).select(
        "doc_id", "source", F.col("quota").cast("bigint").alias("quota")
    )


# X253 — differentially-private noisy counts --------------------------------
#: Laplace scale b = sensitivity / epsilon = 1 / 1.0.
DP_EPSILON = 1.0


@query(
    "dp_noisy_counts",
    oracle=f"""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true FROM documents
      GROUP BY lang
    ),
    u AS (
      SELECT lang, n_true,
             (CAST(('0x' || substr(md5('dp-' || lang), 1, 7)) AS BIGINT)
              + 0.5) / {_U_DENOM} AS u
      FROM c
    )
    SELECT lang, n_true,
           CAST({1.0 / DP_EPSILON!r} AS DOUBLE) AS b_scale,
           CAST(ROUND(CAST(
             n_true - {1.0 / DP_EPSILON!r} * sign(u - 0.5)
                      * ln(1.0 - 2.0 * abs(u - 0.5))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS noisy_count
    FROM u
    """,
    tags=("sampling", "privacy", "extension"),
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X253: DIFFERENTIALLY-PRIVATE release of per-language document
    counts — the Laplace mechanism (Dwork et al. 2006): COUNT has
    L1-sensitivity 1, so adding Laplace(1/ε) noise gives ε-DP. The
    noise draw is inverse-CDF: u ~ U(0,1) →
    -b·sign(u-½)·ln(1-2|u-½|). Completes the privacy surface next to
    `pseudonymize_users` (tokenization) and `k_anonymity_audit`
    (quasi-identifier risk): suppress-or-generalize, tokenize, and
    now perturb.

    Determinism discipline: u is the salted 28-bit md5 uniform OF THE
    GROUP KEY (half-offset keeps u strictly inside (0,1), so ln never
    sees 0) — every engine draws the same noise, which is what makes
    the release testable; a production deployment swaps the hash
    uniform for a calibrated DRBG and drops `n_true`, changing no
    plan shape. Noise arithmetic is sign/abs/ln on exact binary
    fractions, emitted 4-dp-decimal-rounded.

    Scale shape: one partial-agg shuffle on the low-cardinality key;
    noise is a per-group scalar projection after the agg — O(groups)
    post-shuffle work, nothing row-wise."""
    docs = load_table(spark, sf_dir, "documents").select("lang")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    u = (
        md5_int(F.concat(F.lit("dp-"), F.col("lang")), 7).cast("long")
        + F.lit(0.5)
    ) / F.lit(_U_DENOM)
    b = F.lit(1.0 / DP_EPSILON)
    noise = -b * F.signum(u - 0.5) * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    return c.select(
        "lang",
        "n_true",
        b.alias("b_scale"),
        exact_round(F.col("n_true") + noise, 4).alias("noisy_count"),
    )


# X260 — temporal split with embargo ----------------------------------------
#: train share of the timeline, and the embargo gap (microseconds).
SPLIT_FRAC = 0.7
EMBARGO_US = 7 * 86_400 * 1_000_000


@query(
    "temporal_split_embargo",
    oracle=f"""
    WITH cut AS (
      SELECT quantile_cont(epoch_us(ts), {SPLIT_FRAC}) AS t1 FROM events
    ),
    lab AS (
      SELECT CASE WHEN epoch_us(ts) <= cut.t1 THEN 'train'
                  WHEN epoch_us(ts) < cut.t1 + {EMBARGO_US} THEN 'embargo'
                  ELSE 'test' END AS split,
             user_id, epoch_us(ts) AS tu
      FROM events, cut
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(tu) AS BIGINT) AS t_min_us,
           CAST(MAX(tu) AS BIGINT) AS t_max_us
    FROM lab GROUP BY split
    """,
    tags=("sampling", "extension"),
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X260: TEMPORAL train/test split with an EMBARGO gap — the
    leakage-safe split for forecasting/ranking training data (the
    purged split of de Prado's "Advances in Financial ML", simplified):
    train = first {SPLIT_FRAC:.0%} of the timeline (exact interpolated
    quantile of event time), then a 7-day embargo window DROPPED so
    features with trailing lookback windows cannot straddle the
    boundary, then test. The time-axis complement of
    `train_test_split` (X21: content-hash split): that one
    randomizes; this one respects causality.

    Scale shape: the cut point is `exact_quantiles_two_pass` (no O(n)
    percentile buffer — two pruned passes); labeling is a broadcast
    1-row crossJoin + CASE projection; the report is one partial-agg
    shuffle on 3 keys (count-distinct expands map-side). Nothing
    row-wise survives the agg."""
    ev = load_table(spark, sf_dir, "events")
    from ..functions.epoch import epoch_us

    tu = ev.select(
        "user_id", epoch_us("ts").alias("tu")
    )
    cut = exact_quantiles_two_pass(tu, "tu", [SPLIT_FRAC]).select(
        F.element_at("qv", 1).alias("t1")
    )
    lab = tu.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("tu") <= F.col("t1"), "train")
        .when(F.col("tu") < F.col("t1") + EMBARGO_US, "embargo")
        .otherwise("test")
        .alias("split"),
        "user_id",
        "tu",
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("tu").cast("bigint").alias("t_min_us"),
        F.max("tu").cast("bigint").alias("t_max_us"),
    )


# X264 — deterministic global shuffle + shard assignment ---------------------
#: training shard count.
N_SHARDS = 16


@query(
    "doc_shuffle_index",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, n_chars,
             row_number() OVER (
               ORDER BY md5('shuf-' || CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    )
    SELECT CAST((rn - 1) % {N_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(rn) AS BIGINT) AS first_index,
           CAST(MAX(rn) AS BIGINT) AS last_index
    FROM r GROUP BY (rn - 1) % {N_SHARDS}
    """,
    tags=("sampling", "extension"),
)
def doc_shuffle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X264: GLOBAL SHUFFLE + SHARD assignment — the step right before
    writing training shards: give every document a position in one
    deterministic random permutation (salted content-hash order, the
    module's discipline — identical on every engine/layout/retry),
    deal positions round-robin into {N_SHARDS} shards, and report each
    shard's size/volume balance. Round-robin over a hash permutation
    is what makes shards i.i.d. — sequential blocks of an UNSHUFFLED
    corpus would put all of one source in one shard (the classic
    training-data ordering bug).

    Scale shape: the permutation index is `distributed_row_number`
    (range-partition on the hash + per-partition rank + tiny carry —
    never a single-task global sort window); the shard report is one
    {N_SHARDS}-key partial agg. The report is the registered query;
    a deployment writes the ranked frame itself with
    ``partitionBy(shard)`` (the `curated_partitioned_sink` shape)."""
    from ..functions.windows import distributed_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.concat(F.lit("shuf-"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    )
    ranked = distributed_row_number(
        docs, [F.col("h"), F.col("doc_id")], out_name="rn"
    )
    return (
        ranked.withColumn(
            "shard", ((F.col("rn") - 1) % N_SHARDS).cast("bigint")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("rn").cast("bigint").alias("first_index"),
            F.max("rn").cast("bigint").alias("last_index"),
        )
    )


# X271 — water-filling token budget across languages -----------------------
#: budget = floor(total_corpus_tokens / WF_BUDGET_DEN): tight enough to
#: cap the dominant language(s) on the synthetic corpus, exercising a
#: mid-ladder water level.
WF_BUDGET_DEN = 2


@query(
    "token_budget_waterfill",
    oracle=rf"""
    WITH t AS (
      SELECT lang,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
               AS n
      FROM documents
    ),
    s AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM t GROUP BY lang),
    b AS (
      SELECT CAST(FLOOR(CAST(SUM(tot) AS DOUBLE) / {WF_BUDGET_DEN})
                  AS BIGINT) AS budget
      FROM s
    ),
    r AS (
      SELECT lang, tot,
             CAST(row_number() OVER (ORDER BY tot, lang) AS BIGINT) AS rn,
             CAST(SUM(tot) OVER (ORDER BY tot, lang
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum,
             CAST(COUNT(*) OVER () AS BIGINT) AS ns
      FROM s
    ),
    f AS (SELECT r.*, cum + (ns - rn) * tot AS f_at, b.budget FROM r, b),
    istar AS (
      SELECT COALESCE(MAX(rn), 0) AS i FROM f WHERE f_at <= budget
    ),
    cap AS (
      SELECT CASE
               WHEN istar.i >= f0.ns THEN NULL
               WHEN istar.i = 0
                 THEN CAST(FLOOR(CAST(f0.budget AS DOUBLE) / f0.ns)
                           AS BIGINT)
               ELSE fi.tot
                    + CAST(FLOOR(CAST(f0.budget - fi.f_at AS DOUBLE)
                                 / (f0.ns - istar.i)) AS BIGINT)
             END AS level
      FROM istar,
           (SELECT ns, budget FROM f WHERE rn = 1) f0
           LEFT JOIN f fi ON fi.rn = (SELECT i FROM istar)
    )
    SELECT r.lang,
           r.tot AS total_tokens,
           CAST(CASE WHEN cap.level IS NULL THEN r.tot
                     ELSE LEAST(r.tot, cap.level) END AS BIGINT)
             AS alloc_tokens,
           (cap.level IS NOT NULL AND r.tot > cap.level) AS at_cap,
           CAST(COALESCE(cap.level, -1) AS BIGINT) AS water_level
    FROM r, cap
    """,
    tags=("sampling", "curation", "extension"),
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X271: WATER-FILLING token-budget allocation across languages —
    the constrained-mixture solver a multilingual pretraining run
    needs: given budget B = floor(total/{WF_BUDGET_DEN}), find the
    water level c with Σ_lang min(tokens_lang, c) ≤ B (the classic
    cap-and-spread allocation: small languages keep everything, the
    dominant ones are cut to a COMMON cap — the fairness-maximizing
    allocation under a total budget). dataset_mixture reweights to
    declared proportions; THIS solves for the proportions a budget
    admits.

    The level is found on the sorted per-language ladder: for the
    segment where the level lands, c = t_i + floor((B - f(t_i)) /
    (S - i)) with f(t) = Σ min(tot, t) — pure integer arithmetic both
    engines state identically (the only division is floored and both
    sides write it FLOOR(double)/CAST, exact under 2^53).

    Scale shape: one linear map (tokenize+count fused into the scan,
    map-side partial agg) to a LANGUAGE-COUNT-sized frame; every
    window thereafter is over ≤ |langs| rows (allowlisted tiny global
    window — the BH-family class); the level attaches back by
    broadcast. At 100 TB the heavy stage is exactly one pass over
    text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(tokens()).cast("bigint")
    # Pin the LANGUAGE-sized aggregate once: the ladder, the budget,
    # the segment row, and the level scalar all branch from it, and
    # without the barrier each branch re-runs the full tokenize pass
    # (measured: 5 document scans in the plan vs 1). |langs| rows —
    # the bh_fdr tiny-frame checkpoint class.
    s = (
        docs.select(F.col("lang"), toks.alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("bigint").alias("tot"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    b = s.agg(
        F.floor(
            F.sum("tot").cast("double") / F.lit(WF_BUDGET_DEN)
        )
        .cast("bigint")
        .alias("budget")
    )
    w_rank = Window.orderBy("tot", "lang")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    r = s.select(
        "lang",
        "tot",
        F.row_number().over(w_rank).cast("bigint").alias("rn"),
        F.sum("tot").over(w_cum).cast("bigint").alias("cum"),
        F.count(F.lit(1))
        .over(Window.partitionBy())
        .cast("bigint")
        .alias("ns"),
    ).crossJoin(F.broadcast(b))
    f = r.withColumn(
        "f_at", F.col("cum") + (F.col("ns") - F.col("rn")) * F.col("tot")
    )
    istar = f.agg(
        F.coalesce(
            F.max(F.when(F.col("f_at") <= F.col("budget"), F.col("rn"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("i")
    )
    fi = (
        f.crossJoin(F.broadcast(istar))
        .filter(F.col("rn") == F.col("i"))
        .select(
            F.col("tot").alias("t_i"), F.col("f_at").alias("f_i")
        )
    )
    level = (
        f.limit(1)
        .select("ns", "budget")
        .crossJoin(F.broadcast(istar))
        .join(F.broadcast(fi), how="left")
        .select(
            F.when(F.col("i") >= F.col("ns"), F.lit(None).cast("bigint"))
            .when(
                F.col("i") == 0,
                F.floor(
                    F.col("budget").cast("double") / F.col("ns")
                ).cast("bigint"),
            )
            .otherwise(
                F.col("t_i")
                + F.floor(
                    (F.col("budget") - F.col("f_i")).cast("double")
                    / (F.col("ns") - F.col("i"))
                ).cast("bigint")
            )
            .alias("level")
        )
    )
    return r.crossJoin(F.broadcast(level)).select(
        "lang",
        F.col("tot").alias("total_tokens"),
        F.when(F.col("level").isNull(), F.col("tot"))
        .otherwise(F.least(F.col("tot"), F.col("level")))
        .cast("bigint")
        .alias("alloc_tokens"),
        (
            F.col("level").isNotNull() & (F.col("tot") > F.col("level"))
        ).alias("at_cap"),
        F.coalesce(F.col("level"), F.lit(-1))
        .cast("bigint")
        .alias("water_level"),
    )


# X276 — PPS systematic sampling over the document stream --------------------
#: target sample size: step = floor(total_weight / PPS_N).
PPS_N = 100


@query(
    "pps_systematic_sample",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             CAST(SUM(w) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM d
    ),
    p AS (
      SELECT GREATEST(CAST(1 AS BIGINT),
                      CAST(FLOOR(CAST(SUM(w) AS DOUBLE) / {PPS_N}) AS BIGINT))
               AS step
      FROM d
    ),
    hits AS (
      SELECT doc_id, w, cum,
             (CAST(FLOOR(CAST(cum - 1
                              - CAST(FLOOR(CAST(step AS DOUBLE) / 2) AS BIGINT)
                              AS DOUBLE) / step) AS BIGINT) + 1)
             - (CAST(FLOOR(CAST(cum - w - 1
                              - CAST(FLOOR(CAST(step AS DOUBLE) / 2) AS BIGINT)
                                AS DOUBLE) / step) AS BIGINT) + 1)
               AS n_hits
      FROM c, p
    )
    SELECT doc_id, w AS weight, cum AS cum_weight,
           CAST(n_hits AS BIGINT) AS n_hits
    FROM hits WHERE n_hits >= 1
    """,
    tags=("sampling", "extension"),
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X276: PPS SYSTEMATIC sampling — probability-proportional-to-size
    selection with a fixed stride: lay documents on the cumulative-
    weight axis (weight = n_chars), drop a grid of points with step =
    max(1, floor(total/{PPS_N})) offset by step/2, and select every document
    whose weight interval contains ≥ 1 grid point (long documents can
    absorb several — ``n_hits`` is the PPS multiplicity an unbiased
    estimator divides by). The survey-sampling workhorse: stratified/
    Neyman pick WITHIN known strata; PPS-systematic needs none and
    guarantees spacing — the right default for building eval slices
    proportional to content volume.

    Determinism: no RNG anywhere — the grid offset is the fixed
    step//2, the axis order is doc_id, and hit counts are exact
    floored-integer arithmetic both engines state identically
    (grid-point counting via floor((x-1-off)/step)+1 differences; the
    negative-k terms cancel in the difference).

    Scale shape: the cumulative axis is the BUCKET-CARRY distributed
    prefix sum (functions/windows.prefix_sum — per-bucket partials +
    a carry window over one row per bucket, never a global sort
    window); the grid test is a narrow projection; total/step attach
    as a broadcast 1-row scalar. One linear pass + metadata-sized
    carries at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w")
    )
    c = prefix_sum(docs, F.col("w"), "doc_id", "cum")
    # Stride clamped to >= 1: a degenerate corpus with total weight
    # < PPS_N would otherwise make step = 0 — a silent NULL divide on
    # Spark (empty sample) vs an inf/FLOOR cast error in DuckDB.  With
    # step = 1 every document is hit, i.e. "select all" — the correct
    # PPS limit when the target exceeds the population weight.
    p = docs.agg(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.sum("w").cast("double") / PPS_N).cast("bigint"),
        ).alias("step")
    )
    off = F.floor(F.col("step").cast("double") / 2).cast("bigint")
    cb_hi = (
        F.floor(
            (F.col("cum") - 1 - off).cast("double") / F.col("step")
        ).cast("bigint")
        + 1
    )
    cb_lo = (
        F.floor(
            (F.col("cum") - F.col("w") - 1 - off).cast("double")
            / F.col("step")
        ).cast("bigint")
        + 1
    )
    return (
        c.crossJoin(F.broadcast(p))
        .select(
            "doc_id",
            F.col("w").alias("weight"),
            F.col("cum").cast("bigint").alias("cum_weight"),
            (cb_hi - cb_lo).cast("bigint").alias("n_hits"),
        )
        .filter(F.col("n_hits") >= 1)
    )
