"""Corpus-level training-data operators (X56-X63) — the second wave of
LLM-pipeline extensions beyond the reference surface (the reference,
being a fitness-telemetry ETL of ~460 lines of pandas/psycopg2 —
main.py/api.py — has none of these; they are driver-mandated extension
scope, SURVEY.md §2.8).

Every operator keeps the determinism discipline of sampling.py: any
"random" choice is a pure md5 content hash, every float is produced by
the same written-order arithmetic in Spark and the DuckDB oracle, and
every top-K carries a full deterministic tiebreak so the LIMIT boundary
is the same set in both engines.

Scale shapes (100 TB):
- chunk/pair/shingle expansion is a narrow per-row ``transform`` over
  the token array — no explode until after the per-doc work, so the
  shuffle carries 16-byte hashes / short pairs, never document bodies.
- all joins against vocabulary-sized sides (marginals, per-type stats,
  fold maps, scalar totals) are explicit ``broadcast``s.
- top-K is ``orderBy().limit(K)`` → TakeOrderedAndProject (per-partition
  heaps + single K-row merge), never a global sort or window.
- the containment self-join is an inverted-index equi-join on shingle
  hash — the verify stage of an LSH pipeline, same framing as
  ``near_dedup_ngram_jaccard`` (dedup.py): at 100 TB it runs on banded
  candidates only, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, no_pushdown, spread_scan
from ..functions.parity import exact_round, md5_int, tokens
from ..registry import query

#: non-overlapping words per dedup chunk (CCNet-style "line" dedup unit).
CHUNK_WORDS = 8
#: top-K adjacent token pairs reported by the BPE first-merge scan.
BPE_TOP = 100
#: minimum corpus pair count for a PMI estimate (rare-pair noise floor).
PMI_MIN_PAIR = 5
#: cross-validation fold count.
KFOLDS = 5
#: words per overlapping shingle for the containment join.
CONTAIN_SHINGLE = 3
#: containment threshold (|A∩B| / min(|A|,|B|)).
CONTAIN_MIN = 0.8


def _empty_str_array() -> F.Column:
    return F.array().cast("array<string>")


# X56 — chunk-level (line-level) exact dedup ------------------------------
@query(
    "chunk_dedup",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(
               t[(i*{CHUNK_WORDS}+1):((i+1)*{CHUNK_WORDS})], ' ')) AS chunk_hash
      FROM toks, UNNEST(range(0, len(t) // {CHUNK_WORDS})) AS u(i)
    )
    SELECT chunk_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occ
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    tags=("dedup", "corpus", "extension"),
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56: sub-document exact dedup — split each document into
    non-overlapping ``CHUNK_WORDS``-word chunks and report every chunk
    that repeats across ≥2 distinct documents (the CCNet/RefinedWeb
    "line dedup" unit, boilerplate detection at corpus scale).

    Plan: narrow per-doc ``transform`` builds md5 chunk hashes (no
    shuffle), explode emits 32-char hashes only, one partial-agg
    exchange on chunk_hash. At 100 TB the shuffle payload is hashes,
    never text."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    n_chunks = (F.size(t) / CHUNK_WORDS).cast("int")
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.md5(
                F.array_join(F.slice(t, i * CHUNK_WORDS + 1, CHUNK_WORDS), " ")
            ),
        ),
    ).otherwise(_empty_str_array())
    return (
        docs.select("doc_id", F.explode(chunks).alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# X57 — BPE first-merge pair counts ---------------------------------------
@query(
    "bpe_pair_counts",
    oracle=rf"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '\S+') AS t FROM documents
    ),
    pairs AS (
      SELECT t[i] || ' ' || t[i+1] AS pair
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    )
    SELECT pair, COUNT(*) AS n_pair
    FROM pairs
    GROUP BY pair
    ORDER BY n_pair DESC, pair
    LIMIT {BPE_TOP}
    """,
    tags=("text", "corpus", "extension"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57: the counting step of one BPE merge iteration — corpus-wide
    adjacent-token pair frequencies, top ``BPE_TOP`` with a full
    deterministic tiebreak (count desc, pair asc) so the LIMIT boundary
    is engine-independent.

    Plan: pairs built per-row with ``zip_with`` over two array slices
    (narrow), partial agg before the exchange, then
    ``orderBy().limit()`` → TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    pairs = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(_empty_str_array())
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.desc("n_pair"), "pair")
        .limit(BPE_TOP)
    )


# X58 — Markov event-transition matrix ------------------------------------
@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n,
           CAST(ROUND(CAST(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY event_type)
               AS DECIMAL(28,10)), 4) AS DOUBLE) AS p
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("analytics", "sequence", "extension"),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58: first-order Markov transition matrix of user event streams —
    for each (event_type → next event_type) the count and the
    row-normalized probability. The behavioral-model counterpart of the
    reference's sessionization surface (SURVEY.md §2.3).

    Plan: one per-user ordered window (bounded state per key), partial
    agg to a |types|² matrix, then the normalizing window runs over
    that tiny grouped result — never over raw events."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    g = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type")
    return g.withColumn(
        "p",
        exact_round(F.col("n").cast("double") / F.sum("n").over(wt), 4),
    )


# X59 — robust per-type outlier detection ---------------------------------
@query(
    "anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CAST(ROUND(CAST((e.value - s.mu) / s.sigma
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS z
    FROM events e
    JOIN stats s ON e.event_type = s.event_type
    WHERE s.sigma > 0 AND ABS((e.value - s.mu) / s.sigma) > 3
    """,
    tags=("analytics", "quality", "extension"),
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59: per-event-type z-score outliers (|z| > 3) — the telemetry
    sanity filter a training pipeline runs before trusting sensor-style
    columns. Two passes over events: a per-type stats agg (|types|
    rows, broadcast back) and a narrow filter — no row-level shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) > 3))
        .select(
            "event_id",
            "event_type",
            "value",
            exact_round(z, 4).alias("z"),
        )
    )


# X60 — gaps-and-islands activity spans -----------------------------------
@query(
    "activity_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    r AS (
      SELECT user_id, day,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS rn
      FROM days
    )
    SELECT user_id,
           strftime(MIN(day), '%Y-%m-%d') AS island_start,
           strftime(MAX(day), '%Y-%m-%d') AS island_end,
           COUNT(*) AS n_days
    FROM r
    GROUP BY user_id, day - rn
    """,
    tags=("analytics", "sequence", "extension"),
)
def activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60: gaps-and-islands — maximal runs of consecutive active days
    per user, via the classic ``day - row_number()`` anchor (consecutive
    days share an anchor; any gap starts a new one).

    Plan: distinct (user, day) first (shrinks events to user-days),
    one per-user ordered window, one group-by — all partitioned by
    user_id, bounded state per key."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = days.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("user_id", F.date_sub("day", F.col("rn")).alias("_anchor"))
        .agg(
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("island_start"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .drop("_anchor")
    )


# X61 — deterministic k-fold assignment -----------------------------------
def _fold_col() -> F.Column:
    """The fold of ``doc_id``, a salted content hash; ``kfold_assign``
    and ``curation_pipeline`` share it."""
    salted = F.concat(F.lit("fold-"), F.col("doc_id").cast("string"))
    return (md5_int(salted, 7).cast("bigint") % KFOLDS).cast("int")


@query(
    "kfold_assign",
    oracle=f"""
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5('fold-' || CAST(doc_id AS VARCHAR)),
                                     1, 7)) AS BIGINT) % {KFOLDS} AS INT)
             AS fold
    FROM documents
    """,
    tags=("sampling", "corpus", "extension"),
)
def kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61: k-fold cross-validation assignment as a pure content hash of
    doc_id (sampling.py determinism discipline: survives repartitioning,
    retries, and engine swaps; no RNG). Narrow map, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _fold_col().alias("fold"))


# X62 — adjacent-token PMI ------------------------------------------------
@query(
    "token_pmi",
    oracle=rf"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '\S+') AS t FROM documents
    ),
    tok AS (SELECT unnest(t) AS w FROM toks),
    marg AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok),
    pairs AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2),
    ptot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs)
    SELECT pc.w1, pc.w2, pc.n_pair,
           CAST(ROUND(CAST(
             ln((CAST(pc.n_pair AS DOUBLE) / ptot.n_pairs)
                / ((CAST(m1.c AS DOUBLE) / totals.n_tok)
                   * (CAST(m2.c AS DOUBLE) / totals.n_tok)))
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS pmi
    FROM pc
    CROSS JOIN ptot
    CROSS JOIN totals
    JOIN marg m1 ON pc.w1 = m1.w
    JOIN marg m2 ON pc.w2 = m2.w
    WHERE pc.n_pair >= {PMI_MIN_PAIR}
    """,
    tags=("text", "corpus", "extension"),
)
def token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62: pointwise mutual information of adjacent token pairs —
    collocation mining (the phrase-detection pass of a tokenizer /
    data-quality pipeline). PMI = ln((c_ab/M) / ((c_a/N)(c_b/N))),
    written-order float arithmetic mirrored exactly in the oracle.

    Plan: pair and token counts are two partial aggs; the marginal
    vocabulary and the two scalar totals join back as explicit
    broadcasts — the only exchange carries (w1, w2, count) rows."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    tok = docs.select(F.explode(t).alias("w"))
    marg = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tok = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    pair_structs = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pr = docs.select(F.explode(pair_structs).alias("p")).select("p.w1", "p.w2")
    pc = (
        pr.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= PMI_MIN_PAIR)
    )
    n_pairs = pr.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    m1 = marg.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    m2 = marg.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = exact_round(
        F.log(
            (F.col("n_pair").cast("double") / F.col("n_pairs"))
            / (
                (F.col("c1").cast("double") / F.col("n_tok"))
                * (F.col("c2").cast("double") / F.col("n_tok"))
            )
        ),
        4,
    )
    return (
        pc.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_tok))
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
    )


# X63 — shingle containment pairs -----------------------------------------
@query(
    "containment_pairs",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(t[i:(i+{CONTAIN_SHINGLE}-1)], ' ')) AS s
      FROM toks, UNNEST(range(1, len(t) - {CONTAIN_SHINGLE} + 2)) AS u(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(ROUND(CAST(CAST(i.n_inter AS DOUBLE) / LEAST(sa.n, sb.n)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS containment
    FROM inter i
    JOIN sz sa ON i.doc_a = sa.doc_id
    JOIN sz sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / LEAST(sa.n, sb.n) >= {CONTAIN_MIN}
    """,
    tags=("dedup", "corpus", "extension"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63: shingle containment — |S_A ∩ S_B| / min(|S_A|,|S_B|) over
    distinct ``CONTAIN_SHINGLE``-word shingles. Catches quotation /
    subset duplicates that Jaccard misses (a short doc embedded in a
    long one has low Jaccard but containment ≈ 1).

    Plan: inverted-index equi-join on shingle hash (never all-pairs);
    per-doc size lookups join WITHOUT a broadcast hint (corpus
    cardinality — AQE decides). Jaccard's size-ratio prune is
    deliberately NOT applied — containment is exactly the asymmetric
    case it would discard; at 100 TB this runs as the verify stage on
    LSH-banded candidates (near_dedup_lsh_verified framing,
    dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    n_sh = F.size(t) - CONTAIN_SHINGLE + 1
    shingles = F.when(
        n_sh > 0,
        F.transform(
            F.sequence(F.lit(0), n_sh - 1),
            lambda i: F.md5(
                F.array_join(F.slice(t, i + 1, CONTAIN_SHINGLE), " ")
            ),
        ),
    ).otherwise(_empty_str_array())
    sh = (
        docs.select("doc_id", F.explode(F.array_distinct(shingles)).alias("s"))
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    containment = F.col("n_inter").cast("double") / F.least("na", "nb")
    # No F.broadcast hint: sa/sb are per-DOCUMENT size tables (corpus
    # cardinality), so a forced broadcast OOMs executors at 100x scale.
    # The join keys are already the pair frame's own shuffle keys; AQE
    # picks broadcast only when the size table actually fits.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(containment >= CONTAIN_MIN)
        .select(
            "doc_a",
            "doc_b",
            exact_round(containment, 4).alias("containment"),
        )
    )


# --- shared fragments for the composed pipeline --------------------------
def _chunks_sql(src: str) -> str:
    """CTE text: (doc_id, h) md5 chunk hashes of ``src`` — the SQL twin
    of the chunk builder in :func:`chunk_dedup`, parameterized so the
    composed pipeline can chunk the quality-surviving subset."""
    return f"""
      SELECT doc_id,
             md5(array_to_string(
               t[(i*{CHUNK_WORDS}+1):((i+1)*{CHUNK_WORDS})], ' ')) AS h
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
            FROM {src}) toks_,
           UNNEST(range(0, len(t) // {CHUNK_WORDS})) AS u(i)
    """


_FOLD_SQL = (
    f"CAST(CAST(('0x' || substr(md5('fold-' || CAST(doc_id AS VARCHAR)), 1, 7))"
    f" AS BIGINT) % {KFOLDS} AS INT)"
)


def _chunk_hashes(t: F.Column) -> F.Column:
    n_chunks = (F.size(t) / CHUNK_WORDS).cast("int")
    return F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.md5(
                F.array_join(F.slice(t, i * CHUNK_WORDS + 1, CHUNK_WORDS), " ")
            ),
        ),
    ).otherwise(_empty_str_array())


# The composed oracle embeds the REGISTERED oracle texts of the stage
# operators (registry lookup at import time) so the pipeline stages can
# never drift from the standalone operators they compose.
from . import sampling as _sampling  # noqa: E402  (registers dataset_mixture)
from . import textstats as _textstats  # noqa: E402  (registers gopher filter)
from ..registry import _REGISTRY as _R  # noqa: E402

_CURATION_ORACLE = f"""
    WITH gq AS (
      SELECT doc_id FROM ({_R["gopher_quality_filter"].oracle}) g
      WHERE g.passes
    ),
    surv AS (
      SELECT d.doc_id, d.text, d.lang, d.source
      FROM documents d JOIN gq USING (doc_id)
    ),
    chunks AS ({_chunks_sql("surv")}),
    dup AS (
      SELECT DISTINCT b.doc_id
      FROM chunks a JOIN chunks b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    mix AS (
      SELECT doc_id FROM ({_R["dataset_mixture"].oracle}) mx
    )
    SELECT s.doc_id, s.lang, s.source, {_FOLD_SQL} AS fold
    FROM surv s
    JOIN mix USING (doc_id)
    WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = s.doc_id)
"""


# X66 — the composed curation pipeline ------------------------------------
@query(
    "curation_pipeline",
    oracle=_CURATION_ORACLE,
    tags=("corpus", "pipeline", "extension"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66: the END-TO-END training-data curation pipeline as ONE
    declarative plan — quality filter (Gopher rules) → sub-document
    chunk-overlap dedup (keep the lowest doc_id of any chunk-sharing
    pair, applied within quality survivors) → mixture sampling (per-
    source keep rates) → deterministic fold assignment.

    Composes the REGISTERED stage operators (gopher_quality_filter,
    chunk machinery, dataset_mixture, kfold_assign) on both sides: the
    Spark plan calls the same functions, the oracle embeds the same
    registered oracle texts, so pipeline and stages cannot drift apart.

    Scale shape: every stage is the stage operator's own shape — narrow
    quality projection, hash-only chunk join, narrow mixture filter —
    and Catalyst fuses the narrow stages into the scan. One corpus-wide
    chunk-hash exchange is the only large shuffle."""
    from .sampling import dataset_mixture
    from .textstats import gopher_quality_filter

    docs = load_table(spark, sf_dir, "documents")
    # r11: gq_pass is referenced by BOTH the chunk-hash leg and the
    # dedup-survivor leg — each replayed the whole Gopher stat
    # projection as its own ~0.7 s single-task stage. Pin it once
    # (doc_id-only rows). r12 (ADVICE r11): NO broadcast hint — gq_pass
    # is corpus-cardinality (every quality-passing doc_id), the class
    # the repo convention leaves to AQE (minhash_calibration_report
    # docstring): at deploy scale the id set can exceed the 8 GB
    # broadcast cap, and the hint would pin the doomed strategy. AQE
    # still broadcasts it at this SF from the runtime shuffle size.
    gq_pass = (
        gopher_quality_filter(spark, sf_dir)
        .filter(F.col("passes"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    surv = spread_scan(docs, "doc_id").join(gq_pass, "doc_id").select(
        "doc_id", "text", "lang", "source"
    )
    # chunk hashes pinned once (hash-only rows): the a/b self-join legs
    # each recomputed the tokenize+md5 chunk projection otherwise.
    ch = surv.select(
        "doc_id", F.explode(_chunk_hashes(tokens())).alias("h")
    ).localCheckpoint(eager=True)
    a = ch.select(F.col("doc_id").alias("da"), "h")
    b = ch.select(F.col("doc_id").alias("db"), "h")
    dup = (
        a.join(b, "h")
        .filter(F.col("da") < F.col("db"))
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    deduped = surv.join(dup, "doc_id", "left_anti")
    mixed = deduped.join(
        dataset_mixture(spark, sf_dir).select("doc_id"), "doc_id"
    )
    return mixed.select("doc_id", "lang", "source", _fold_col().alias("fold"))


# X67 — partitioned curated-dataset sink ----------------------------------
@query(
    "curated_partitioned_sink",
    oracle=f"""
    SELECT lang, fold, COUNT(*) AS n_docs
    FROM ({_CURATION_ORACLE}) cur
    GROUP BY lang, fold
    """,
    tags=("corpus", "sink", "extension"),
)
def curated_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67: materialize the curated training set as a Hive-partitioned
    parquet layout (``partitionBy(lang, fold)``) and verify by reading
    the layout back — the delivery step of the curation pipeline.
    Downstream trainers read one (lang, fold) directory without
    touching the rest (partition pruning on the read path).

    The returned per-partition counts come from the READ-BACK files,
    so the oracle checks the round trip (write → directory layout →
    partition-column reconstruction → read), not just the in-memory
    frame. At 100 TB the same ``partitionBy`` scales out per-partition
    file writes; you would additionally bound file counts with
    ``maxRecordsPerFile`` / a pre-write repartition on the partition
    keys."""
    from ..session import scratch_dir

    out = scratch_dir("curated_partitioned_sink")
    final = curation_pipeline(spark, sf_dir)
    final.write.partitionBy("lang", "fold").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


#: feature-hashing dimensionality (hash-trick buckets).
HASH_BUCKETS = 256


# X70 — hashed bag-of-words features --------------------------------------
@query(
    "feature_hashing",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(w), 1, 7)) AS BIGINT)
                % {HASH_BUCKETS} AS INT) AS bucket,
           COUNT(*) AS cnt
    FROM tok
    GROUP BY doc_id, bucket
    """,
    tags=("corpus", "features", "extension"),
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70: the hashing trick — fixed-width bag-of-words features with
    NO vocabulary pass: each token maps to one of ``HASH_BUCKETS``
    buckets by content hash, per-doc bucket counts are the feature
    vector (sparse COO form: doc_id, bucket, cnt).

    One-pass, vocabulary-free → the feature extractor for streaming /
    petabyte corpora where a vocab build is a separate expensive job.
    Plan: narrow explode + single partial-agg exchange keyed on
    (doc_id, bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (md5_int(F.col("w"), 7).cast("bigint") % HASH_BUCKETS).cast("int")
    return (
        docs.select("doc_id", F.explode(tokens()).alias("w"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# X71 — unigram-LM surprisal quality score --------------------------------
@query(
    "unigram_surprisal",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS w
      FROM documents
    ),
    marg AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    s AS (
      SELECT t.doc_id,
             CAST(ROUND(CAST(-ln(CAST(m.c AS DOUBLE) / tot.n)
                             AS DECIMAL(18,10)), 8) AS DECIMAL(18,8)) AS surp
      FROM tok t
      JOIN marg m ON t.w = m.w
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(ROUND(CAST(CAST(SUM(surp) AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS mean_surprisal,
           COUNT(*) AS n_tokens
    FROM s GROUP BY doc_id
    """,
    tags=("corpus", "quality", "extension"),
)
def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71: per-document mean unigram surprisal (-ln p(w) under the
    corpus unigram LM) — the cheapest perplexity-style quality signal:
    high = rare/garbled tokens, low = repetitive boilerplate. The
    standard first-pass LM filter when a real LM is too expensive at
    corpus scale.

    Float discipline: each token's surprisal is rounded to a
    DECIMAL(18,8) CONSTANT per word type, so the per-doc sum is exact
    decimal addition (order-independent → engine-independent), divided
    and rounded once at the end. Plan: token marginals broadcast back
    onto the exploded stream, one (doc_id)-keyed partial agg."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("w"))
    marg = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    surp = (
        F.round(
            (-F.log(F.col("c").cast("double") / F.col("n"))).cast(
                "decimal(18,10)"
            ),
            8,
        )
        .cast("decimal(18,8)")
        .alias("surp")
    )
    s = (
        tok.join(F.broadcast(marg), "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", surp)
    )
    return s.groupBy("doc_id").agg(
        exact_round(
            F.sum("surp").cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_surprisal"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


# X75 — incremental corpus update (new batch vs existing index) -----------
@query(
    "incremental_corpus_update",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE source = 'src0'
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE source <> 'src0'
    ),
    corpus_idx AS ({_chunks_sql("corpus")}),
    batch_ch AS ({_chunks_sql("batch")}),
    dup_new AS (
      SELECT DISTINCT b.doc_id
      FROM batch_ch b
      WHERE EXISTS (SELECT 1 FROM corpus_idx c WHERE c.h = b.h)
    )
    SELECT b.doc_id,
           EXISTS (SELECT 1 FROM dup_new d WHERE d.doc_id = b.doc_id)
             AS is_dup_of_corpus
    FROM batch b
    """,
    tags=("dedup", "corpus", "incremental", "extension"),
)
def incremental_corpus_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75: INCREMENTAL dedup — screen a new ingest batch against the
    chunk index of the existing corpus without re-deduplicating the
    corpus itself (here: ``source='src0'`` plays the standing corpus,
    every other source the incoming batch). This is the shape that
    matters operationally at 100 TB: the corpus chunk index is a
    persisted artifact that only ever gets APPENDED to; each new batch
    joins against it, never against raw corpus text.

    Plan: both sides reduce to (doc_id, chunk-hash); the batch
    LEFT SEMI-joins the index on the hash (hash-only shuffle), then the
    flag attaches back to batch docs with a second semi/anti pattern —
    no text ever crosses the wire."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") == "src0")
    batch = docs.filter(F.col("source") != "src0")
    corpus_idx = corpus.select(F.explode(_chunk_hashes(tokens())).alias("h")).distinct()
    batch_ch = batch.select("doc_id", F.explode(_chunk_hashes(tokens())).alias("h"))
    dup_new = (
        batch_ch.join(corpus_idx, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_dup_of_corpus", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(dup_new, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_dup_of_corpus", F.lit(False)).alias(
                "is_dup_of_corpus"
            ),
        )
    )


#: TextRank: damping factor, unrolled iterations, report size.
TR_DAMP = 0.85
TR_ITERS = 3
TR_TOP = 20


def _tr_iter_sql(prev: str, idx: int) -> str:
    """One unrolled PageRank iteration as CTE text. Per-edge
    contributions are rounded to DECIMAL(28,12) constants before the
    per-node sum, so the sum is exact decimal addition
    (order-independent) and every iteration's ranks are bit-identical
    across engines."""
    return f"""
    r{idx} AS (
      SELECT e.v AS u,
             CAST(ROUND(CAST(
               CAST({1 - TR_DAMP} AS DOUBLE) / nn.n
               + {TR_DAMP} * CAST(SUM(
                   CAST(ROUND(CAST(
                     CAST(p.pr AS DOUBLE) * e.w / d.deg
                   AS DECIMAL(28,12)), 12) AS DECIMAL(28,12))
                 ) AS DOUBLE)
             AS DECIMAL(28,12)), 12) AS DECIMAL(28,12)) AS pr
      FROM edges e
      JOIN {prev} p ON p.u = e.u
      JOIN deg d ON d.u = e.u
      CROSS JOIN nn
      GROUP BY e.v, nn.n
    )"""


# X76 — TextRank keyword extraction ---------------------------------------
@query(
    "textrank_keywords",
    oracle=rf"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '\S+') AS t FROM documents
    ),
    adj AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    e0 AS (SELECT w1, w2, COUNT(*) AS w FROM adj GROUP BY w1, w2),
    edges AS (
      SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT w1 AS u, w2 AS v, w FROM e0
        UNION ALL
        SELECT w2 AS u, w1 AS v, w FROM e0
      ) GROUP BY u, v
    ),
    deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY u),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    r0 AS (
      SELECT u, CAST(ROUND(CAST(CAST(1 AS DOUBLE) / nn.n
                   AS DECIMAL(28,12)), 12) AS DECIMAL(28,12)) AS pr
      FROM deg CROSS JOIN nn
    ),
    {",".join(_tr_iter_sql(f"r{i - 1}", i) for i in range(1, TR_ITERS + 1))}
    SELECT u AS token,
           CAST(ROUND(pr, 6) AS DOUBLE) AS rank
    FROM r{TR_ITERS}
    ORDER BY rank DESC, token
    LIMIT {TR_TOP}
    """,
    tags=("text", "graph", "extension"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76: TextRank (Mihalcea & Tarau 2004) keyword extraction — an
    ITERATIVE graph algorithm (PageRank over the adjacent-token
    co-occurrence graph, damping 0.85, {TR_ITERS} unrolled iterations)
    kept oracle-exact: per-edge contributions are rounded to
    DECIMAL(28,12) constants before each per-node sum, so iteration
    results are order-independent and bit-identical across engines.

    Scale shape: the graph is vocabulary-sized (nodes = token types,
    edges = distinct adjacent pairs), orders of magnitude smaller than
    the corpus that produced it — one corpus pass builds the edge
    list, then each iteration is a broadcast-sized join. The tiny
    per-iteration frames are coalesced and materialized (same policy
    as Lloyd training: keep plan analysis flat instead of nesting K
    rounds of joins in one tree)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    adj = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # r11 negative result (kept as-was): both a spread_scan and an
    # eager e0 checkpoint were tried and measured SLOWER at 8 and 32
    # cores (2.3 -> 3.9 s / 2.1 -> 2.3-2.6 s) — this query's wall is
    # its sequential checkpoint-job chain, so an extra exchange or
    # barrier costs more than the duplicated-but-concurrent ~0.5 s
    # tokenize legs it would save.
    e0 = (
        docs.select(F.explode(adj).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = (
        e0.select(F.col("w1").alias("u"), F.col("w2").alias("v"), "w")
        .unionAll(e0.select(F.col("w2").alias("u"), F.col("w1").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("u").agg(F.sum("w").alias("deg"))
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pr0 = (
        deg.crossJoin(F.broadcast(nn))
        .select(
            "u",
            F.round((F.lit(1.0) / F.col("n")).cast("decimal(28,12)"), 12)
            .cast("decimal(28,12)")
            .alias("pr"),
        )
    )
    ranks = pr0
    for _ in range(TR_ITERS):
        contrib = F.round(
            (
                F.col("pr").cast("double") * F.col("w") / F.col("deg")
            ).cast("decimal(28,12)"),
            12,
        ).cast("decimal(28,12)")
        ranks = (
            edges.join(ranks, "u")
            .join(deg, "u")
            .crossJoin(F.broadcast(nn))
            .select(F.col("v").alias("dst"), contrib.alias("c"), "n")
            .groupBy("dst", "n")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("u"),
                F.round(
                    (
                        F.lit(1.0 - TR_DAMP) / F.col("n")
                        + TR_DAMP * F.col("s").cast("double")
                    ).cast("decimal(28,12)"),
                    12,
                )
                .cast("decimal(28,12)")
                .alias("pr"),
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return (
        ranks.select(
            F.col("u").alias("token"),
            F.round("pr", 6).cast("double").alias("rank"),
        )
        .orderBy(F.desc("rank"), "token")
        .limit(TR_TOP)
    )


#: BM25 parameters (Robertson et al.) and the fixed query term set.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "table", "fast")
BM25_TOP = 20


# X82 — BM25 retrieval scoring --------------------------------------------
@query(
    "bm25_retrieval",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len_d FROM tok
           GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len_d) AS BIGINT) AS total_tok
      FROM dl
    ),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE w IN {BM25_TERMS!r}
      GROUP BY doc_id, w
    ),
    df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(CAST(
               ln((CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
                  / (df.df + 0.5) + 1)
               * (tf.tf * ({BM25_K1} + 1))
               / (tf.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * dl.len_d
                     / (CAST(s.total_tok AS DOUBLE) / s.n_docs)))
             AS DECIMAL(18,8)), 8) AS DECIMAL(18,8)) AS part
      FROM tf
      JOIN df ON tf.w = df.w
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(ROUND(CAST(CAST(SUM(part) AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
    """,
    tags=("text", "retrieval", "extension"),
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82: BM25 document scoring (Robertson/Sparck-Jones probabilistic
    retrieval — the quality-classifier / relevance-filter workhorse):
    idf·tf·(k1+1)/(tf + k1·(1-b+b·len/avgdl)) summed over the query
    terms, top-{BM25_TOP} docs. Per-term contributions are rounded to
    DECIMAL(18,8) constants so the per-doc sum is order-independent.

    Plan: token explode filtered to the query terms INSIDE the scan
    projection (the corpus-wide exchange carries only matching (doc,
    term) pairs), df/doc-length/corpus stats broadcast back, top-K via
    ``orderBy().limit()``."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("w"))
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("len_d")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("len_d").cast("bigint").alias("total_tok"),
    )
    tf = (
        tok.filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1
    )
    avgdl = F.col("total_tok").cast("double") / F.col("n_docs")
    part = F.round(
        (
            idf
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("len_d") / avgdl)
            )
        ).cast("decimal(18,8)"),
        8,
    ).cast("decimal(18,8)")
    # dl is corpus-sized (one row per doc) — no broadcast hint; tf is
    # already filtered to the query terms, so AQE broadcasts THAT side
    # instead of shipping per-doc lengths for the whole corpus.
    scored = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", part.alias("part"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(exact_round(F.sum("part").cast("double"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP)
    )


#: fuzzy dedup: max relative edit distance for a verified near-dup pair.
EDIT_REL_MAX = 0.2


# X83 — edit-distance-verified fuzzy dedup --------------------------------
@query(
    "fuzzy_dedup_editdistance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    chunks AS ({{chunks}}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM chunks a JOIN chunks b ON a.h = b.h AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           levenshtein(da.text, db.text) AS edit_dist,
           CAST(ROUND(CAST(
             CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / GREATEST(length(da.text), length(db.text), 1)
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS rel_dist
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    WHERE CAST(levenshtein(da.text, db.text) AS DOUBLE)
          / GREATEST(length(da.text), length(db.text), 1) <= {EDIT_REL_MAX}
    """.replace("{chunks}", _chunks_sql("documents")),
    tags=("dedup", "fuzzy", "extension"),
)
def fuzzy_dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83: character-level fuzzy dedup — candidate pairs from the
    shared-chunk inverted index (never all-pairs), VERIFIED by true
    Levenshtein edit distance (relative to the longer doc,
    ≤ {EDIT_REL_MAX}). Character-level verification catches word-order
    and tokenizer-boundary edits that shingle Jaccard scores miss, at
    O(len²) per pair — which is exactly why it must only ever run on
    blocked candidates.

    Plan: chunk-hash equi-join produces the candidate list; texts join
    back by doc_id; ``levenshtein`` is a JVM built-in (codegen, no
    UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    # r11: tokenize+chunk-hash ONCE — ch feeds both join legs and was
    # recomputed per leg, each a single-task stage off the one-file
    # scan (2 x ~0.8 s measured). The checkpointed rows are
    # (doc_id, md5) only; the spread is the gated scan fix
    # (catalog.spread_scan).
    ch = (
        spread_scan(docs, "doc_id")
        .select("doc_id", F.explode(_chunk_hashes(tokens())).alias("h"))
        .localCheckpoint(eager=True)
    )
    a = ch.select(F.col("doc_id").alias("doc_a"), "h")
    b = ch.select(F.col("doc_id").alias("doc_b"), "h")
    cand = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    ed = F.levenshtein("ta", "tb")
    rel = ed.cast("double") / F.greatest(
        F.length("ta"), F.length("tb"), F.lit(1)
    )
    # texts are corpus-sized — no broadcast hint; the candidate side is
    # the bounded one (banding output), so AQE broadcasts cand and the
    # document table streams without an exchange.
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(rel <= EDIT_REL_MAX)
        .select(
            "doc_a",
            "doc_b",
            ed.cast("bigint").alias("edit_dist"),
            exact_round(rel, 4).alias("rel_dist"),
        )
    )


# X84 — BPE merge application (the second half of a training iteration) ---
@query(
    "bpe_apply_merge",
    oracle=rf"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '\S+') AS t FROM documents
    ),
    adj AS (
      SELECT t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    top1 AS (
      SELECT w1, w2, w1 || ' ' || w2 AS mt FROM (
        SELECT w1, w2, COUNT(*) AS n FROM adj GROUP BY w1, w2
        ORDER BY n DESC, w1 || ' ' || w2
        LIMIT 1
      )
    ),
    merged AS (
      SELECT CASE WHEN len(t) >= 2 THEN
        list_reduce(
          list_concat([t[1:1]], list_transform(t[2:], w -> [w])),
          (acc, x) -> CASE WHEN acc[-1] = top1.w1 AND x[1] = top1.w2
                           THEN list_append(acc[1:len(acc)-1], top1.mt)
                           ELSE list_concat(acc, x) END)
        ELSE t END AS m
      FROM toks CROSS JOIN top1
    ),
    newpairs AS (
      SELECT m[i] || ' ' || m[i+1] AS pair
      FROM merged, UNNEST(range(1, len(m))) AS u(i)
    )
    SELECT pair, COUNT(*) AS n_pair
    FROM newpairs
    GROUP BY pair
    ORDER BY n_pair DESC, pair
    LIMIT {BPE_TOP}
    """,
    tags=("text", "corpus", "extension"),
)
def bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84: the SECOND half of a BPE training iteration — X57 counts
    pairs, this op APPLIES the winning merge (left-to-right,
    non-overlapping, the real BPE application rule) to every document
    and recounts, producing the next iteration's pair table. The
    per-document merge is inherently sequential, so it runs as a
    ``aggregate`` higher-order fold over the token array — per-row,
    JVM-side, no shuffle, no UDF — with the identical ``list_reduce``
    fold in the oracle.

    Scale shape: the winning merge is a broadcast 1-row scalar; the
    fold is a narrow map; the only exchange is the recount partial agg.
    Iterating k merges = k plan repetitions of this shape (each round's
    winner is again a scalar — the BPE training loop distributes as
    k narrow passes)."""
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select(tokens().alias("t"))
    merged = _bpe_apply(cur, _bpe_top1(cur)).select(F.col("t").alias("m"))
    m = F.col("m")
    new_pairs = F.when(
        F.size(m) >= 2,
        F.zip_with(
            F.slice(m, 1, F.size(m) - 1),
            F.slice(m, 2, F.size(m) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(_empty_str_array())
    return (
        merged.select(F.explode(new_pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.desc("n_pair"), "pair")
        .limit(BPE_TOP)
    )


# X85 — cross-source duplication matrix -----------------------------------
@query(
    "cross_source_dup_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    chunks AS ({{chunks}}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM chunks a JOIN chunks b ON a.h = b.h AND a.doc_id < b.doc_id
    )
    SELECT LEAST(da.source, db.source) AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           COUNT(*) AS n_dup_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY LEAST(da.source, db.source), GREATEST(da.source, db.source)
    """.replace("{chunks}", _chunks_sql("documents")),
    tags=("dedup", "corpus", "audit", "extension"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85: WHICH sources duplicate WHICH — chunk-sharing doc pairs
    rolled up to an (unordered) source×source matrix. The curation
    question behind it: is duplication within one crawl (dedupe there)
    or across sources (pick a precedence order)? Sources are
    LEAST/GREATEST-normalized so each unordered pair counts once.

    Plan: the chunk-index pair join (hash-only) feeds two doc_id→source
    lookup joins and a tiny matrix agg. The lookups are per-DOCUMENT
    (corpus cardinality) so they carry NO broadcast hint — at 100 TB a
    forced broadcast of a per-doc frame is an executor OOM; the pair
    side is the bounded one, and AQE broadcasts whichever actually
    fits."""
    docs = load_table(spark, sf_dir, "documents")
    ch = docs.select("doc_id", F.explode(_chunk_hashes(tokens())).alias("h"))
    a = ch.select(F.col("doc_id").alias("doc_a"), "h")
    b = ch.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


# X86 — curation survivorship funnel --------------------------------------
@query(
    "curation_funnel_stats",
    oracle=f"""
    WITH gq AS (
      SELECT doc_id FROM ({_R["gopher_quality_filter"].oracle}) g
      WHERE g.passes
    ),
    surv AS (
      SELECT d.doc_id, d.text FROM documents d JOIN gq USING (doc_id)
    ),
    chunks AS ({_chunks_sql("surv")}),
    dup AS (
      SELECT DISTINCT b.doc_id
      FROM chunks a JOIN chunks b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    deduped AS (
      SELECT doc_id FROM surv s
      WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = s.doc_id)
    ),
    mix AS (SELECT doc_id FROM ({_R["dataset_mixture"].oracle}) mx)
    SELECT
      (SELECT COUNT(*) FROM documents) AS n_input,
      (SELECT COUNT(*) FROM gq) AS n_quality_pass,
      (SELECT COUNT(*) FROM dup) AS n_dup_dropped,
      (SELECT COUNT(*) FROM deduped) AS n_after_dedup,
      (SELECT COUNT(*) FROM deduped d JOIN mix USING (doc_id)) AS n_final
    """,
    tags=("corpus", "audit", "pipeline", "extension"),
)
def curation_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86: the curation pipeline's survivorship funnel as ONE audit
    row — input docs, quality passers, chunk-dup drops, post-dedup
    survivors, final mixture keeps. The per-stage loss report every
    production curation run logs (and the first thing to check when a
    training set shrinks unexpectedly). Stage definitions are the
    SAME functions/oracle fragments `curation_pipeline` composes, so
    the funnel can't disagree with the pipeline.

    Plan: each count is a partial-agg scalar; the five 1-row frames
    cross-join into one row — no stage materializes more than its
    operator already does."""
    from .sampling import dataset_mixture
    from .textstats import gopher_quality_filter

    docs = load_table(spark, sf_dir, "documents")
    gq = (
        gopher_quality_filter(spark, sf_dir)
        .filter(F.col("passes"))
        .select("doc_id")
    )
    surv = docs.join(gq, "doc_id").select("doc_id", "text")
    ch = surv.select("doc_id", F.explode(_chunk_hashes(tokens())).alias("h"))
    a = ch.select(F.col("doc_id").alias("da"), "h")
    b = ch.select(F.col("doc_id").alias("db"), "h")
    dup = (
        a.join(b, "h")
        .filter(F.col("da") < F.col("db"))
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    deduped = surv.select("doc_id").join(dup, "doc_id", "left_anti")
    mix = dataset_mixture(spark, sf_dir).select("doc_id")
    counts = [
        docs.agg(F.count(F.lit(1)).alias("n_input")),
        gq.agg(F.count(F.lit(1)).alias("n_quality_pass")),
        dup.agg(F.count(F.lit(1)).alias("n_dup_dropped")),
        deduped.agg(F.count(F.lit(1)).alias("n_after_dedup")),
        deduped.join(mix, "doc_id").agg(F.count(F.lit(1)).alias("n_final")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


# X92 — full BPE training loop (k merge rounds, unrolled) -----------------
#: merge rounds; each produces one (w1, w2) winner applied corpus-wide.
BPE_TRAIN_ROUNDS = 4


def _bpe_adj_sql(src: str) -> str:
    """Adjacent-pair counts + LIMIT-1 winner over CTE ``src`` (col t)."""
    return f"""(
    SELECT w1, w2, w1 || ' ' || w2 AS mt, n FROM (
      SELECT w1, w2, COUNT(*) AS n FROM (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM {src}, UNNEST(range(1, len(t))) AS u(i)
      ) GROUP BY w1, w2
      ORDER BY n DESC, w1 || ' ' || w2
      LIMIT 1
    )
  )"""


def _bpe_merge_sql(src: str, top1: str) -> str:
    """Apply CTE ``top1``'s winner to every doc of ``src`` — the same
    left-to-right non-overlapping ``list_reduce`` fold as
    ``bpe_apply_merge``'s oracle."""
    return f"""(
    SELECT CASE WHEN len(t) >= 2 THEN
      list_reduce(
        list_concat([t[1:1]], list_transform(t[2:], w -> [w])),
        (acc, x) -> CASE WHEN acc[-1] = {top1}.w1 AND x[1] = {top1}.w2
                         THEN list_append(acc[1:len(acc)-1], {top1}.mt)
                         ELSE list_concat(acc, x) END)
      ELSE t END AS t
    FROM {src} CROSS JOIN {top1}
  )"""


def _bpe_train_oracle() -> str:
    parts = [
        r"""toks0 AS (
      SELECT regexp_extract_all(lower(text), '\S+') AS t FROM documents
    )"""
    ]
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        parts.append(f"top1_{r} AS {_bpe_adj_sql(f'toks{r - 1}')}")
        if r < BPE_TRAIN_ROUNDS:
            parts.append(
                f"toks{r} AS {_bpe_merge_sql(f'toks{r - 1}', f'top1_{r}')}"
            )
    selects = " UNION ALL ".join(
        f"SELECT {r} AS step, w1, w2, mt, n AS n_pair FROM top1_{r}"
        for r in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + selects


def _bpe_pair_structs(t: F.Column) -> F.Column:
    return F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _bpe_top1(cur: DataFrame) -> DataFrame:
    adj = cur.select(F.explode(_bpe_pair_structs(F.col("t"))).alias("p"))
    return (
        adj.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.concat("w1", F.lit(" "), "w2"))
        .limit(1)
        .select("w1", "w2", F.concat("w1", F.lit(" "), "w2").alias("mt"), "n")
    )


def _bpe_apply(cur: DataFrame, top1: DataFrame) -> DataFrame:
    t = F.col("t")
    init = F.slice(t, 1, 1)
    rest = F.slice(t, 2, F.size(t) - 1)
    folded = F.aggregate(
        rest,
        init,
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == F.col("w1")) & (x == F.col("w2")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.col("mt"))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    keep = [c for c in cur.columns if c != "t"]
    return cur.crossJoin(F.broadcast(top1)).select(
        *keep, F.when(F.size(t) >= 2, folded).otherwise(t).alias("t")
    )


@query(
    "bpe_train_merges",
    oracle=_bpe_train_oracle(),
    tags=("text", "corpus", "extension"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: the full BPE training loop — ``BPE_TRAIN_ROUNDS`` unrolled
    iterations of count → pick winner → apply merge → recount
    (``bpe_pair_counts`` + ``bpe_apply_merge`` composed k times),
    producing the ORDERED merge list a tokenizer team ships: (step,
    w1, w2, merged_token, pair_count). Matches an unrolled-CTE DuckDB
    oracle exactly, ties broken by pair string.

    Scale shape per round: pair counting partially aggregates map-side
    and the winner is ``orderBy().limit(1)`` → TakeOrderedAndProject (a
    per-partition top-1 heap, never a vocabulary sort); the winner
    reaches every document as a broadcast 1-row scalar (plan-asserted
    via the shared ``_bpe_apply`` in tests/test_plan_shapes.py); the
    merge application is a narrow JVM fold. The re-tokenized corpus is
    materialized between rounds (``localCheckpoint`` here; a persisted
    table on a cluster) — identical to how a production BPE trainer
    checkpoints the working corpus each iteration, and the same
    measured lazy-vs-materialized justification as the Lloyd trainer
    (similarity.py)."""
    docs = load_table(spark, sf_dir, "documents")
    # r11: spread the working corpus ONCE before the loop — the frame
    # inherited the local scan's single partition through every
    # localCheckpoint round, so all count/apply stages ran on one core
    # (measured: 12 single-task ~0.7-0.9 s stages at sf0.1). Gated
    # no-op at deploy scale (catalog.spread_scan); round-robin is safe
    # because every downstream op (pair-count agg, broadcast-apply) is
    # partitioning-insensitive.
    cur = spread_scan(docs, "doc_id").select(tokens().alias("t"))
    steps = []
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        # 1-row winner, materialized once: it feeds BOTH the output and
        # the next round's broadcast, and must not recompute the count
        top1 = _bpe_top1(cur).localCheckpoint(eager=True)
        steps.append(
            top1.select(
                F.lit(rnd).alias("step"),
                "w1",
                "w2",
                "mt",
                F.col("n").alias("n_pair"),
            )
        )
        if rnd < BPE_TRAIN_ROUNDS:
            # r12: LAZY checkpoint — the re-tokenized corpus still
            # materializes exactly once (the checkpoint truncates
            # lineage at first computation, and both next-round readers
            # see the saved blocks), but the narrow merge-fold now runs
            # INSIDE the next round's count job instead of as its own
            # sequential barrier job: BPE_TRAIN_ROUNDS-1 fewer jobs in
            # the chain for the same executor work (VERDICT r11 item 4).
            cur = _bpe_apply(cur, top1).localCheckpoint(eager=False)
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out


# X94 — bigram-LM surprisal (order-2 perplexity proxy) --------------------
@query(
    "bigram_surprisal",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    ),
    adj AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM adj GROUP BY w1, w2),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM adj GROUP BY w1),
    s AS (
      SELECT a.doc_id,
             CAST(ROUND(CAST(-ln(CAST(b.c12 AS DOUBLE) / u.c1)
                             AS DECIMAL(18,10)), 8) AS DECIMAL(18,8)) AS surp
      FROM adj a
      JOIN big b ON a.w1 = b.w1 AND a.w2 = b.w2
      JOIN uni u ON a.w1 = u.w1
    )
    SELECT doc_id,
           CAST(ROUND(CAST(CAST(SUM(surp) AS DOUBLE) / COUNT(*)
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS mean_bigram_surprisal,
           COUNT(*) AS n_bigrams
    FROM s GROUP BY doc_id
    """,
    tags=("corpus", "quality", "extension"),
)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94: per-document mean bigram surprisal (-ln p(w2|w1) under the
    corpus bigram LM, MLE conditional = c(w1,w2)/c(w1·)) — the order-2
    companion to ``unigram_surprisal``: sensitive to scrambled word
    ORDER and templated boilerplate that unigram stats cannot see.
    Every observed bigram has c12 ≥ 1, so the MLE conditional never
    needs smoothing on the training corpus itself.

    Float discipline (same as X71): per-bigram surprisal rounded to a
    DECIMAL(18,8) constant per bigram TYPE → order-independent decimal
    sums, one rounded division at the end. Plan: pairs built with a
    narrow ``zip_with`` over array slices; bigram/left-unigram stats
    join back on their hash keys (shuffle carries tokens + one decimal,
    never text); one (doc_id)-keyed partial agg."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    pair_structs = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    adj = docs.select(
        "doc_id", F.explode(pair_structs).alias("p")
    ).select("doc_id", "p.w1", "p.w2")
    big = adj.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = adj.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    surp = (
        F.round(
            (-F.log(F.col("c12").cast("double") / F.col("c1"))).cast(
                "decimal(18,10)"
            ),
            8,
        )
        .cast("decimal(18,8)")
        .alias("surp")
    )
    s = (
        adj.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .select("doc_id", surp)
    )
    return s.groupBy("doc_id").agg(
        exact_round(
            F.sum("surp").cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_bigram_surprisal"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


# X99 — encode the corpus with the trained merges -------------------------
def _bpe_encode_parts() -> tuple[list[str], str]:
    """The encode pipeline's CTE parts and the final tokens-CTE name —
    shared by the encoder oracle and the rank-vocabulary oracles so all
    three state the identical merged corpus."""
    parts = [
        r"""toks0 AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    )"""
    ]
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        parts.append(f"top1_{r} AS {_bpe_adj_sql(f'toks{r - 1}')}")
        parts.append(f"""toks{r} AS (
      SELECT doc_id, CASE WHEN len(t) >= 2 THEN
        list_reduce(
          list_concat([t[1:1]], list_transform(t[2:], w -> [w])),
          (acc, x) -> CASE WHEN acc[-1] = top1_{r}.w1 AND x[1] = top1_{r}.w2
                           THEN list_append(acc[1:len(acc)-1], top1_{r}.mt)
                           ELSE list_concat(acc, x) END)
        ELSE t END AS t
      FROM toks{r - 1} CROSS JOIN top1_{r}
    )""")
        # noqa: the merge fold is byte-identical to _bpe_merge_sql but
        # carries doc_id through each round
    return parts, f"toks{BPE_TRAIN_ROUNDS}"


def _bpe_encode_oracle() -> str:
    parts, last = _bpe_encode_parts()
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT doc_id, CAST(u.i AS BIGINT) AS pos, t[u.i] AS token,
           CAST(('0x' || substr(md5(t[u.i]), 1, 7)) AS BIGINT) AS token_id
    FROM {last}, UNNEST(range(1, len(t) + 1)) AS u(i)
    """
    )


def _bpe_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t): the corpus after the ``BPE_TRAIN_ROUNDS`` trained
    merges, tokens still as per-doc arrays — the Spark twin of
    ``_bpe_encode_parts``' final CTE. Each round's winner is a
    broadcast scalar, the merge a narrow JVM fold, rounds checkpointed
    like the trainer."""
    docs = load_table(spark, sf_dir, "documents")
    cur = docs.select("doc_id", tokens().alias("t"))
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        top1 = _bpe_top1(cur).localCheckpoint(eager=True)
        cur = _bpe_apply(cur, top1)
        if rnd < BPE_TRAIN_ROUNDS:
            cur = cur.localCheckpoint(eager=True)
    return cur


def _bpe_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, token): ``_bpe_merged`` position-exploded."""
    return _bpe_merged(spark, sf_dir).select(
        "doc_id", F.posexplode("t").alias("p0", "token")
    ).select(
        "doc_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "token"
    )


def _content_token_id() -> F.Column:
    """The 28-bit content-hash token id of ``token``, shared by
    ``bpe_encode_corpus`` and ``bpe_decode_roundtrip`` (layout-stable
    across runs and engines)."""
    return md5_int("token", 7).cast("bigint").alias("token_id")


@query(
    "bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    tags=("text", "corpus", "extension"),
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: the SHIP-IT step of the tokenizer story — apply the
    ``BPE_TRAIN_ROUNDS`` trained merges (``bpe_train_merges``' winners,
    re-derived in-plan) to every document, emitting the encoded corpus
    as (doc_id, pos, token, token_id). Token ids come from the
    content-hash trick (md5/28-bit — the same layout-stable id scheme
    as ``feature_hashing``): rank-based vocab ids would need a global
    sort of the vocabulary, which the engine forbids; a real deployment
    joins a persisted rank vocabulary instead.

    Scale shape: each round's winner is a broadcast 1-row scalar and
    the merge application is a narrow JVM fold (exactly
    ``bpe_apply_merge``'s shape, doc_id carried through); the corpus is
    materialized between rounds like the trainer; the final posexplode
    is row-expanding but narrow — no shuffle anywhere except the
    per-round pair counts."""
    return _bpe_encoded(spark, sf_dir).select("*", _content_token_id())


# X103 — CCNet-style chunk-dedup REWRITE ----------------------------------
@query(
    "chunk_dedup_rewrite",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, i AS ci,
             md5(array_to_string(
               t[(i*{CHUNK_WORDS}+1):((i+1)*{CHUNK_WORDS})], ' ')) AS h
      FROM toks, UNNEST(range(0, len(t) // {CHUNK_WORDS})) AS u(i)
    ),
    dup AS (
      SELECT h, MIN(doc_id) AS keeper
      FROM (SELECT DISTINCT doc_id, h FROM h)
      GROUP BY h HAVING COUNT(*) >= 2
    ),
    drops AS (
      SELECT hh.doc_id, hh.ci FROM h hh
      JOIN dup d ON hh.h = d.h
      WHERE hh.doc_id <> d.keeper
    ),
    dlist AS (SELECT doc_id, list(ci) AS dropped FROM drops GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.t) // {CHUNK_WORDS} AS BIGINT) AS n_chunks,
           CAST(COALESCE(len(d.dropped), 0) AS BIGINT) AS n_dropped,
           trim(concat(
             array_to_string(
               list_transform(
                 list_filter(
                   list_transform(range(0, len(t.t) // {CHUNK_WORDS}),
                     i -> {{'ci': i, 'cs': array_to_string(
                       t.t[(i*{CHUNK_WORDS}+1):((i+1)*{CHUNK_WORDS})],
                       ' ')}}),
                   x -> NOT list_contains(COALESCE(d.dropped, []), x.ci)),
                 x -> x.cs),
               ' '),
             ' ',
             array_to_string(
               t.t[((len(t.t) // {CHUNK_WORDS}) * {CHUNK_WORDS} + 1):],
               ' ')
           )) AS clean_text
    FROM toks t LEFT JOIN dlist d ON t.doc_id = d.doc_id
    """,
    tags=("dedup", "corpus", "rewrite", "extension"),
)
def chunk_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103: the TRANSFORM counterpart of ``chunk_dedup`` (CCNet-style
    line/paragraph dedup as applied, not just reported): every
    {CHUNK_WORDS}-word chunk repeated across documents is DROPPED from
    all but the lowest-doc_id holder, and each document's cleaned text
    is REBUILT from its surviving chunks plus the ragged tail. Output:
    (doc_id, n_chunks, n_dropped, clean_text) over the whole corpus —
    note clean_text is in normalized token space (lowercased,
    single-space), the same normalization the chunk index itself uses.

    Scale shape — the rebuild never ships text: the chunk index
    explodes to (doc_id, ci, 16-byte-hash) rows; the dup policy
    (keeper = min doc_id per repeated hash) and the per-doc dropped-
    index lists are hash/int-only aggregations; the final doc_id join
    attaches only int lists (AQE broadcasts the dropped-lists while
    they are small, hash-joins when a heavy dedup makes them
    corpus-sized) and reconstruction is a narrow per-row array
    program. No exchange in the plan carries a text column
    (plan-asserted)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    n = (F.size(t) / CHUNK_WORDS).cast("int")
    chunk_structs = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.struct(
                i.cast("int").alias("ci"),
                F.array_join(
                    F.slice(t, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "
                ).alias("cs"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ci:int,cs:string>>"))
    # r11: h feeds the keeper policy AND the drops join — materialize
    # the (doc_id, ci, md5) rows once (hash-only, no text in the
    # checkpoint) instead of re-running the tokenize+chunk+md5
    # projection per consumer (2 of the 3 measured ~0.65 s single-task
    # stages). The reconstruction leg below still reads text straight
    # off the scan, as declared.
    h = (
        docs.select("doc_id", F.explode(chunk_structs).alias("c"))
        .select(
            "doc_id", F.col("c.ci").alias("ci"), F.md5("c.cs").alias("h")
        )
        .localCheckpoint(eager=True)
    )
    dup = (
        h.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "keeper")
    )
    drops = (
        h.join(dup, "h")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", "ci")
    )
    dlist = drops.groupBy("doc_id").agg(
        F.collect_list("ci").alias("dropped")
    )
    # dlist is per-document (one row per doc that lost a chunk) — at a
    # CCNet-scale dedup that is a large fraction of the corpus, so no
    # broadcast hint: AQE broadcasts it only while it is actually small,
    # and falls back to a doc_id hash join when it is not (the same
    # discipline ADVICE r3 applied to bm25/fuzzy-dedup).
    joined = docs.join(dlist, "doc_id", "left")
    dropped = F.coalesce(F.col("dropped"), F.array().cast("array<int>"))
    kept_cs = F.transform(
        F.filter(
            chunk_structs,
            lambda x: ~F.array_contains(dropped, x["ci"]),
        ),
        lambda x: x["cs"],
    )
    tail = F.array_join(
        F.slice(
            t,
            n * CHUNK_WORDS + 1,
            F.size(t) - n * CHUNK_WORDS,
        ),
        " ",
    )
    return joined.select(
        "doc_id",
        n.cast("bigint").alias("n_chunks"),
        F.size(dropped).cast("bigint").alias("n_dropped"),
        # coalesce both parts: Spark's concat is NULL if ANY input is
        # NULL, DuckDB's concat skips NULLs — a NULL-text document must
        # yield '' on both engines, not NULL on one
        F.trim(
            F.concat(
                F.coalesce(F.array_join(kept_cs, " "), F.lit("")),
                F.lit(" "),
                F.coalesce(tail, F.lit("")),
            )
        ).alias("clean_text"),
    )


# X110/X111 — rank-id vocabulary artifact + dense-id encoder --------------
#: Rank-vocabulary size. The synthetic corpus has 31 base words (+ the
#: merged tokens), so 24 guarantees real truncation and OOV tokens at
#: every SF.
VOCAB_V = 24


def _vocab_sql_parts() -> tuple[str, str]:
    """(with_clause, vocab_cte_name): encoded corpus + rank vocabulary
    CTEs, shared by the artifact oracle and the dense-id encoder
    oracle."""
    parts, last = _bpe_encode_parts()
    with_clause = (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    enc AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos, t[u.i] AS token
      FROM {last}, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    counts AS (SELECT token, COUNT(*) AS freq FROM enc GROUP BY token),
    vocab AS (
      SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) - 1
                  AS BIGINT) AS rank_id,
             token, CAST(freq AS BIGINT) AS freq
      FROM counts
      ORDER BY freq DESC, token
      LIMIT {VOCAB_V}
    )"""
    )
    return with_clause, "vocab"


def _rank_vocab(enc: DataFrame) -> DataFrame:
    """(rank_id, token, freq): top-``VOCAB_V`` tokens of the encoded
    corpus by frequency (ties broken by token text — fully
    deterministic). The global rank window runs AFTER orderBy().limit,
    so its input is bounded by the constant V, never by corpus size
    (the token_frequency_rank discipline)."""
    counts = enc.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    top = counts.orderBy(F.col("freq").desc(), "token").limit(VOCAB_V)
    w = Window.orderBy(F.col("freq").desc(), "token")
    return top.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("rank_id"),
        "token",
        "freq",
    )


@query(
    "vocab_rank_ids",
    oracle=_vocab_sql_parts()[0] + "\n    SELECT rank_id, token, freq FROM vocab",
    tags=("text", "corpus", "extension"),
)
def vocab_rank_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110: the RANK VOCABULARY artifact — what a real deployment
    persists once after BPE training and joins at encode time
    (``bpe_encode_corpus``'s docstring promises exactly this artifact):
    the top-``VOCAB_V`` merged-corpus tokens by frequency with dense
    contiguous ids 0..V-1, the id space a trainer's embedding table
    actually indexes.

    Scale shape: token counts partial-aggregate map-side; the global
    order is a TakeOrdered of the vocabulary (V-bounded constant),
    and the rank window runs over ≤V rows — never corpus-sized."""
    return _rank_vocab(_bpe_encoded(spark, sf_dir))


@query(
    "bpe_encode_rank_ids",
    oracle=_vocab_sql_parts()[0]
    + """
    SELECT e.doc_id, e.pos,
           CAST(COALESCE(v.rank_id, -1) AS BIGINT) AS rank_id
    FROM enc e
    LEFT JOIN vocab v ON v.token = e.token
    """,
    tags=("text", "corpus", "extension"),
)
def bpe_encode_rank_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: the encoder a TRAINER consumes — the merged corpus as
    (doc_id, pos, rank_id) with DENSE rank ids from the persisted
    ``vocab_rank_ids`` artifact; tokens outside the top-V vocabulary
    map to -1 (the unk id). Completes the ship-it chain:
    train merges → build vocab → stream dense ids.

    Scale shape: the encoded corpus materializes once
    (localCheckpoint; a deployment reads the persisted artifact), the
    vocabulary side is V-bounded and BROADCAST (plan-asserted) — the
    accepted vocabulary-sized broadcast pattern — so the id join is
    exchange-free on the corpus side."""
    enc = _bpe_encoded(spark, sf_dir).localCheckpoint()
    vocab = _rank_vocab(enc).select("rank_id", "token")
    return enc.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "pos",
        F.coalesce("rank_id", F.lit(-1)).cast("bigint").alias("rank_id"),
    )


# X281 — BPE DECODE leg + round-trip audit ---------------------------------
def _bpe_decode_oracle() -> str:
    parts, last = _bpe_encode_parts()
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    enc AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos, t[u.i] AS token
      FROM {last}, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    ids AS (
      SELECT doc_id, pos,
             CAST(('0x' || substr(md5(token), 1, 7)) AS BIGINT) AS token_id
      FROM enc
    ),
    idv AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(token), 1, 7)) AS BIGINT) AS token_id,
             token
      FROM enc
    ),
    dec AS (
      SELECT i.doc_id,
             string_agg(v.token, ' ' ORDER BY i.pos) AS decoded_text,
             COUNT(*) AS n_tokens
      FROM ids i JOIN idv v ON i.token_id = v.token_id
      GROUP BY i.doc_id
    ),
    norm AS (
      SELECT doc_id,
             COALESCE(array_to_string(
               regexp_extract_all(lower(text), '\\S+'), ' '), '')
               AS norm_text
      FROM documents
    )
    SELECT n.doc_id,
           CAST(COALESCE(d.n_tokens, 0) AS BIGINT) AS n_tokens,
           COALESCE(d.decoded_text, '') AS decoded_text,
           COALESCE(d.decoded_text, '') = n.norm_text AS roundtrip_ok
    FROM norm n LEFT JOIN dec d ON n.doc_id = d.doc_id
    """
    )


@query(
    "bpe_decode_roundtrip",
    oracle=_bpe_decode_oracle(),
    tags=("text", "corpus", "extension"),
)
def bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X281: the DECODE leg that completes the tokenizer ship-it chain
    (train → vocab → encode → decode — VERDICT r10 task 7): invert
    ``bpe_encode_corpus``'s (doc_id, pos, token_id) stream back to text
    and audit corpus round-trip equality. Because every trained merge
    concatenates its pair with a single space (``_bpe_top1``'s
    ``mt = w1 || ' ' || w2``), the merge inverse telescopes: rendering
    the token stream with a single-space join applies ALL merge
    inversions at once, so decode(encode(doc)) equals the document
    under the engine's documented normalization (lowercase +
    whitespace collapse — ``tokens()``'s token space). ``roundtrip_ok``
    states that equality per document; zero-token documents round-trip
    to the empty string. The decoder consumes ONLY ids: the id→token
    table is re-derived from the encoded corpus (a deployment reads
    the persisted vocabulary artifact) and the original token column is
    dropped before decoding, so the audit exercises the genuine
    id-stream path a trainer's detokenizer runs.

    Scale shape: the encoded corpus materializes once
    (localCheckpoint; persisted artifact on a cluster); the id→token
    decoder table is vocabulary-sized and BROADCAST, so attaching
    token text to the id stream is exchange-free on the corpus side;
    the per-document reassembly is one (doc_id)-keyed partial agg —
    the only corpus-sized shuffle, and it inherently carries text
    because text IS the output."""
    enc = _bpe_encoded(spark, sf_dir).localCheckpoint()
    ids = enc.select("doc_id", "pos", _content_token_id())
    id_vocab = enc.select(_content_token_id(), "token").distinct()
    dec = (
        ids.join(F.broadcast(id_vocab), "token_id")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("decoded_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.coalesce(F.array_join(tokens(), " "), F.lit("")).alias("norm_text"),
    )
    return norm.join(dec, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("bigint")).alias("n_tokens"),
        F.coalesce("decoded_text", F.lit("")).alias("decoded_text"),
        (F.coalesce("decoded_text", F.lit("")) == F.col("norm_text")).alias(
            "roundtrip_ok"
        ),
    )


# X119 — smoothed-bigram-LM perplexity filter (CCNet-style) ---------------
#: Keep documents whose corpus-LM perplexity is at most this. Chosen so
#: both verdicts are populated on the synthetic corpus at every SF.
PPL_MAX = 30.0


@query(
    "perplexity_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    adj AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM adj GROUP BY w1, w2),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM adj GROUP BY w1),
    vs AS (SELECT COUNT(DISTINCT w1) AS v FROM uni),
    s AS (
      SELECT a.doc_id,
             CAST(ROUND(CAST(
               -ln(CAST(b.c12 + 1 AS DOUBLE) / (u.c1 + vs.v))
             AS DECIMAL(18,10)), 8) AS DECIMAL(18,8)) AS surp
      FROM adj a
      JOIN big b ON a.w1 = b.w1 AND a.w2 = b.w2
      JOIN uni u ON a.w1 = u.w1
      CROSS JOIN vs
    )
    SELECT doc_id,
           CAST(ROUND(CAST(
             EXP(CAST(SUM(surp) AS DOUBLE) / COUNT(*))
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS ppl,
           ROUND(CAST(
             EXP(CAST(SUM(surp) AS DOUBLE) / COUNT(*))
           AS DECIMAL(28,10)), 4) <= {PPL_MAX} AS keep
    FROM s GROUP BY doc_id
    """,
    tags=("corpus", "quality", "curation", "extension"),
)
def perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X119: the CCNet-style PERPLEXITY FILTER — per-document
    perplexity under an add-one-smoothed corpus bigram LM
    (p = (c12+1)/(c1+V)), keep-below-threshold. The canonical
    LM-based quality gate: 'looks like the reference distribution'
    where the classifier (rule features) and Gopher (hard rules) ask
    different questions. Smoothing makes the model a real LM (mass on
    unseen bigrams), unlike ``bigram_surprisal``'s on-corpus MLE.
    Documents with < 2 tokens have no bigrams and are unrated — same
    domain as bigram_surprisal.

    Float discipline (X71/X94): per-bigram surprisal rounded to a
    DECIMAL(18,8) constant per bigram type → order-independent decimal
    sums; ppl = exp of one identical double, rounded before the
    threshold so the keep boundary is engine-identical. Plan: stats
    are vocabulary-sized and broadcast back; V is a broadcast scalar;
    one partial-agg shuffle per stats table plus the per-doc rollup."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    pair_structs = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # r11: the bigram stream is built ONCE — the LM stats tables and
    # the scoring join each replayed the zip_with tokenize+explode as a
    # concurrent ~0.8 s SINGLE-TASK stage off the one-file scan
    # (perplexity_filter_kn measured five of them, 2.7-3.5 s wall).
    # The spread gate parallelizes the tokenize locally (no-op at
    # deploy); the eager checkpoint shares the (doc_id, w1, w2) frame —
    # word-only rows, never text. Downstream broadcasts are all
    # explicitly hinted, so no planner-size-estimate join shape is
    # lost (the bigram_surprisal lesson).
    adj = (
        spread_scan(docs, "doc_id")
        .select("doc_id", F.explode(pair_structs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .localCheckpoint(eager=True)
    )
    big = adj.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = adj.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vs = uni.agg(F.countDistinct("w1").alias("v"))
    surp = (
        F.round(
            (
                -F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("v"))
                )
            ).cast("decimal(18,10)"),
            8,
        )
        .cast("decimal(18,8)")
        .alias("surp")
    )
    s = (
        adj.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vs))
        .select("doc_id", surp)
    )
    ppl = exact_round(F.exp(F.sum("surp").cast("double") / F.count(F.lit(1))), 4)
    return s.groupBy("doc_id").agg(
        ppl.alias("ppl"),
        (ppl <= PPL_MAX).alias("keep"),
    )


# X278 — Kneser-Ney bigram-LM perplexity filter ---------------------------
#: absolute discount for interpolated Kneser-Ney (the standard 0.75 —
#: Chen & Goodman 1999's fixed-D baseline; exact in binary floating
#: point, so both engines subtract the identical constant).
KN_DISCOUNT = 0.75
#: keep documents whose KN-LM perplexity is at most this. Chosen from
#: the measured oracle distribution (sf0.001 median 29.6, sf0.01 29.5,
#: sf0.1 p10 29.65 / median 30.0) so BOTH verdicts are populated at
#: every SF — the X119 threshold discipline.
KN_PPL_MAX = 29.8


@query(
    "perplexity_filter_kn",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    adj AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    big AS (SELECT w1, w2, COUNT(*) AS c12 FROM adj GROUP BY w1, w2),
    uni AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS fert
      FROM big GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nrev FROM big GROUP BY w2
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM big),
    s AS (
      SELECT a.doc_id,
             CAST(ROUND(CAST(
               -ln(
                 GREATEST(CAST(b.c12 AS DOUBLE) - {KN_DISCOUNT},
                          CAST(0 AS DOUBLE)) / u.c1
                 + (({KN_DISCOUNT} * u.fert) / u.c1)
                   * (CAST(cn.nrev AS DOUBLE) / tt.t_types)
               )
             AS DECIMAL(18,10)), 8) AS DECIMAL(18,8)) AS surp
      FROM adj a
      JOIN big b ON a.w1 = b.w1 AND a.w2 = b.w2
      JOIN uni u ON a.w1 = u.w1
      JOIN cont cn ON a.w2 = cn.w2
      CROSS JOIN tt
    )
    SELECT doc_id,
           CAST(ROUND(CAST(
             EXP(CAST(SUM(surp) AS DOUBLE) / COUNT(*))
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS ppl,
           ROUND(CAST(
             EXP(CAST(SUM(surp) AS DOUBLE) / COUNT(*))
           AS DECIMAL(28,10)), 4) <= {KN_PPL_MAX} AS keep
    FROM s GROUP BY doc_id
    """,
    tags=("corpus", "quality", "curation", "extension"),
)
def perplexity_filter_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X278: the KNESER-NEY perplexity filter — per-document perplexity
    under an interpolated absolute-discount bigram LM (VERDICT r9 task
    6). X119's add-one smoothing divides every seen bigram's mass by
    c1+V, over-penalizing exactly the rare-but-real continuations a
    CCNet-style gate must pass; KN is the standard fix:

        P(w2|w1) = max(c12 - D, 0)/c1  +  (D·fert(w1)/c1) · P_cont(w2)
        P_cont(w2) = |{w1 : c(w1,w2) > 0}| / |bigram types|

    with fixed discount D = KN_DISCOUNT = 0.75. The continuation probability
    ranks words by how many CONTEXTS they follow, not raw frequency —
    the insight that makes KN the default n-gram smoother. Documents
    with < 2 tokens have no bigrams and are unrated (X119's domain).
    Unseen bigrams fall back to the discounted-interpolation term with
    c12 = 0 by the same formula; on this rig the scored corpus is the
    training corpus (as in X119), so every scored pair is seen.

    Float discipline (X71/X94/X119): every count feeding the formula
    is an exact BIGINT; D = 0.75 is exact in binary; per-bigram-TYPE
    surprisal evaluates one written-order double expression in both
    engines and is rounded to a DECIMAL(18,8) constant → the per-doc
    sum is order-independent; ppl rounds to 4dp before the threshold.

    Scale shape (identical to X119's vocabulary-bounded broadcast
    pattern): bigram/context/continuation stats partial-aggregate
    map-side into vocabulary-sized tables that BROADCAST back onto the
    token stream; |types| is a broadcast 1-row scalar; the only
    corpus-sized exchange is the per-doc rollup carrying (doc_id,
    decimal surprisal)."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    pair_structs = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # r11: the bigram stream is built ONCE — the LM stats tables and
    # the scoring join each replayed the zip_with tokenize+explode as a
    # concurrent ~0.8 s SINGLE-TASK stage off the one-file scan
    # (perplexity_filter_kn measured five of them, 2.7-3.5 s wall).
    # The spread gate parallelizes the tokenize locally (no-op at
    # deploy); the eager checkpoint shares the (doc_id, w1, w2) frame —
    # word-only rows, never text. Downstream broadcasts are all
    # explicitly hinted, so no planner-size-estimate join shape is
    # lost (the bigram_surprisal lesson).
    adj = (
        spread_scan(docs, "doc_id")
        .select("doc_id", F.explode(pair_structs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .localCheckpoint(eager=True)
    )
    big = adj.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = big.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("fert"),
    )
    cont = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nrev")
    )
    tt = big.agg(F.count(F.lit(1)).cast("bigint").alias("t_types"))
    p_kn = (
        F.greatest(
            F.col("c12").cast("double") - F.lit(KN_DISCOUNT), F.lit(0.0)
        )
        / F.col("c1")
        + ((F.lit(KN_DISCOUNT) * F.col("fert")) / F.col("c1"))
        * (F.col("nrev").cast("double") / F.col("t_types"))
    )
    surp = (
        F.round((-F.log(p_kn)).cast("decimal(18,10)"), 8)
        .cast("decimal(18,8)")
        .alias("surp")
    )
    s = (
        adj.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tt))
        .select("doc_id", surp)
    )
    ppl = exact_round(F.exp(F.sum("surp").cast("double") / F.count(F.lit(1))), 4)
    return s.groupBy("doc_id").agg(
        ppl.alias("ppl"),
        (ppl <= KN_PPL_MAX).alias("keep"),
    )


# X279 — KN vs add-one disagreement report --------------------------------
def _kn_vs_addone_oracle() -> str:
    return f"""
    WITH kn AS (
      SELECT doc_id, ppl AS ppl_kn, keep AS keep_kn
      FROM ({_R["perplexity_filter_kn"].oracle})
    ),
    ao AS (
      SELECT doc_id, ppl AS ppl_addone, keep AS keep_addone
      FROM ({_R["perplexity_filter"].oracle})
    )
    SELECT kn.keep_kn, ao.keep_addone,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(CAST(
             CAST(SUM(CAST(ao.ppl_addone - kn.ppl_kn
                           AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_ppl_gap
    FROM kn JOIN ao ON kn.doc_id = ao.doc_id
    GROUP BY kn.keep_kn, ao.keep_addone
    """


@query(
    "perplexity_kn_vs_addone",
    oracle=_kn_vs_addone_oracle(),
    tags=("corpus", "quality", "audit", "extension"),
)
def perplexity_kn_vs_addone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X279: the DISAGREEMENT REPORT between the two LM gates — the
    quality_gate_comparison (X124) discipline applied to the smoothing
    change: per (keep_kn, keep_addone) verdict cell, the document count
    and the mean perplexity gap (add-one minus KN; sign varies — on a
    corpus whose vocabulary is small relative to context counts the
    continuation term can rank a doc's bigrams HIGHER than add-one
    does, measured −3.5..+0.5 on the sf0.01 synthetic). The off-
    diagonal cells are the documents where the smoother CHOICE is the
    gate — what a curation owner reviews before swapping X119 for X278.

    Float discipline: both ppl inputs are already 4dp-rounded doubles;
    each per-doc gap is cast to DECIMAL(18,4) (exact — the difference
    of two 4dp values) so the cell sum is order-independent, and the
    mean rounds to 4dp through the shared decimal idiom.

    Scale shape: both gates keep their registered shapes; the join is
    doc-keyed carrying two doubles + booleans; the report is ≤4 rows.
    Oracle embeds both registered fragments verbatim, so the report
    cannot drift from the gates it compares."""
    kn = perplexity_filter_kn(spark, sf_dir).select(
        "doc_id",
        F.col("ppl").alias("ppl_kn"),
        F.col("keep").alias("keep_kn"),
    )
    ao = perplexity_filter(spark, sf_dir).select(
        "doc_id",
        F.col("ppl").alias("ppl_addone"),
        F.col("keep").alias("keep_addone"),
    )
    gap = (F.col("ppl_addone") - F.col("ppl_kn")).cast("decimal(18,4)")
    avg_gap = exact_round(F.sum(gap).cast("double") / F.count(F.lit(1)), 4)
    return (
        kn.join(ao, "doc_id")
        .groupBy("keep_kn", "keep_addone")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            avg_gap.alias("avg_ppl_gap"),
        )
    )


# X123 — corpus snapshot diff (dataset versioning audit) ------------------
@query(
    "corpus_snapshot_diff",
    oracle="""
    WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
    v2 AS (
      -- deterministic synthetic "next snapshot": drop every 17th doc,
      -- edit every 13th (of the survivors), add a shifted copy of
      -- every 19th — the three things a recrawl does
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0
                  THEN md5('edited:' || text) ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, md5('new:' || text) AS h
      FROM documents WHERE doc_id % 19 = 0
    ),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             a.h AS h1, b.h AS h2
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT doc_id,
           CASE WHEN h1 IS NULL THEN 'added'
                WHEN h2 IS NULL THEN 'removed'
                WHEN h1 <> h2 THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM j
    """,
    tags=("corpus", "audit", "extension"),
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123: DATASET-VERSIONING diff — given two corpus snapshots,
    classify every doc_id as added / removed / changed / unchanged by
    CONTENT HASH (not mtime): the audit behind "what actually moved
    between crawl v1 and v2" that gates retraining and incremental
    dedup re-runs. The second snapshot is synthesized deterministically
    in-plan (drop every 17th, edit every 13th survivor, add a shifted
    copy of every 19th — deletions, edits, additions).

    Scale shape: both sides reduce to (doc_id, 16-byte hash) before
    the FULL OUTER join — the diff shuffles digests, never text; at
    two real snapshots this is one co-partitioned join on the primary
    key (bucket both snapshots by doc_id and it is exchange-free)."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h1"))
    v2 = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0,
                F.md5(F.concat(F.lit("edited:"), F.col("text"))),
            )
            .otherwise(F.md5("text"))
            .alias("h2"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 10000000).alias("doc_id"),
                F.md5(F.concat(F.lit("new:"), F.col("text"))).alias("h2"),
            )
        )
    )
    j = v1.join(v2, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


# X124 — quality gate ensemble comparison ---------------------------------
def _gate_comparison_oracle() -> str:
    return f"""
    WITH g AS (
      SELECT doc_id, passes FROM ({_R["gopher_quality_filter"].oracle})
    ),
    c AS (
      SELECT doc_id, verdict FROM ({_R["quality_classifier_score"].oracle})
    ),
    p AS (
      SELECT doc_id, keep FROM ({_R["perplexity_filter"].oracle})
    ),
    fl AS (
      SELECT doc_id FROM ({_R["per_source_quality_floor"].oracle})
    )
    SELECT g.doc_id,
           g.passes AS gopher_pass,
           c.verdict AS classifier_pass,
           p.keep AS perplexity_pass,
           (fl.doc_id IS NOT NULL) AS floor_pass,
           CAST(CAST(g.passes AS INT) + CAST(c.verdict AS INT)
                + CAST(p.keep AS INT)
                + CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END
             AS BIGINT) AS n_pass
    FROM g
    JOIN c ON c.doc_id = g.doc_id
    JOIN p ON p.doc_id = g.doc_id
    LEFT JOIN fl ON fl.doc_id = g.doc_id
    """


@query(
    "quality_gate_comparison",
    oracle=_gate_comparison_oracle(),
    tags=("corpus", "quality", "audit", "extension"),
)
def quality_gate_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124: the QUALITY-GATE ENSEMBLE report — per document, the
    verdicts of all four gates side by side (Gopher hard rules,
    logistic classifier, smoothed-LM perplexity, per-source median
    floor) plus the agreement count. The ``dedup_audit_report``
    discipline applied to the quality family: gates that disagree on
    many docs measure different things (keep both); a gate that
    duplicates another's verdicts is redundant cost. n_pass is also
    the standard ensemble-voting signal ("keep if ≥k gates agree").
    Every synthetic doc has ≥10 tokens, so all four gates rate every
    document and the join domains coincide.

    Scale shape: each gate keeps its registered operator's shape
    (narrow projections / vocabulary broadcasts / source-bounded
    medians); assembly is three doc-keyed joins carrying booleans.
    Oracle embeds the four registered fragments verbatim — the
    comparison cannot drift from the gates it compares."""
    from .textstats import (
        classifier_frame,
        gopher_quality_filter,
        per_source_quality_floor,
    )

    g = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("gopher_pass")
    )
    docs = load_table(spark, sf_dir, "documents")
    c = classifier_frame(docs, feature_cols=False).select(
        "doc_id", F.col("verdict").alias("classifier_pass")
    )
    p = perplexity_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("perplexity_pass")
    )
    fl = per_source_quality_floor(spark, sf_dir).select("doc_id").withColumn(
        "__f", F.lit(True)
    )
    out = (
        g.join(c, "doc_id")
        .join(p, "doc_id")
        .join(fl, "doc_id", "left")
    )
    floor_pass = F.col("__f").isNotNull()
    n_pass = (
        F.col("gopher_pass").cast("int")
        + F.col("classifier_pass").cast("int")
        + F.col("perplexity_pass").cast("int")
        + floor_pass.cast("int")
    ).cast("bigint")
    return out.select(
        "doc_id",
        "gopher_pass",
        "classifier_pass",
        "perplexity_pass",
        floor_pass.alias("floor_pass"),
        n_pass.alias("n_pass"),
    )


# X125 — per-source boilerplate strip -------------------------------------
@query(
    "boilerplate_strip",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, source, i AS ci,
             md5(array_to_string(
               t[(i*{CHUNK_WORDS}+1):((i+1)*{CHUNK_WORDS})], ' ')) AS h
      FROM toks, UNNEST(range(0, len(t) // {CHUNK_WORDS})) AS u(i)
    ),
    boiler AS (
      SELECT source, h
      FROM (SELECT DISTINCT doc_id, source, h FROM h)
      GROUP BY source, h HAVING COUNT(*) >= 2
    ),
    drops AS (
      SELECT hh.doc_id, hh.ci
      FROM h hh JOIN boiler b ON hh.source = b.source AND hh.h = b.h
    ),
    dlist AS (SELECT doc_id, list(ci) AS dropped FROM drops GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.t) // {CHUNK_WORDS} AS BIGINT) AS n_chunks,
           CAST(COALESCE(len(d.dropped), 0) AS BIGINT) AS n_boiler,
           trim(concat(
             array_to_string(
               list_transform(
                 list_filter(
                   list_transform(range(0, len(t.t) // {CHUNK_WORDS}),
                     i -> {{'ci': i, 'cs': array_to_string(
                       t.t[(i*{CHUNK_WORDS}+1):((i+1)*{CHUNK_WORDS})],
                       ' ')}}),
                   x -> NOT list_contains(COALESCE(d.dropped, []), x.ci)),
                 x -> x.cs),
               ' '),
             ' ',
             array_to_string(
               t.t[((len(t.t) // {CHUNK_WORDS}) * {CHUNK_WORDS} + 1):],
               ' ')
           )) AS clean_text
    FROM toks t LEFT JOIN dlist d ON t.doc_id = d.doc_id
    """,
    tags=("dedup", "corpus", "rewrite", "extension"),
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125: per-SOURCE boilerplate removal — the CCNet/RefinedWeb pass
    that ``chunk_dedup_rewrite`` (X103, keep-first global dedup) is
    not: a chunk repeated across ≥2 distinct documents OF THE SAME
    SOURCE is template/header/footer material, and EVERY occurrence is
    stripped (no keeper — boilerplate has no legitimate first owner).
    Output: (doc_id, n_chunks, n_boiler, clean_text) in normalized
    token space, whole corpus.

    Scale shape mirrors X103: the chunk index explodes to (doc_id,
    source, ci, 16-byte hash); the boilerplate policy is a (source,
    hash) partial-agg; per-doc dropped lists are int-only; the final
    doc_id join attaches int lists with NO broadcast hint (AQE decides
    — a template-heavy crawl makes the list corpus-sized), and the
    rebuild is the same narrow per-row array program. No exchange
    carries text. Per-source grouping also bounds the agg key space:
    skew from one giant domain is the (source, hash) key, salting-
    ready, never a global hot key."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    n = (F.size(t) / CHUNK_WORDS).cast("int")
    chunk_structs = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.struct(
                i.cast("int").alias("ci"),
                F.array_join(
                    F.slice(t, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "
                ).alias("cs"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<ci:int,cs:string>>"))
    h = docs.select(
        "doc_id", "source", F.explode(chunk_structs).alias("c")
    ).select(
        "doc_id",
        "source",
        F.col("c.ci").alias("ci"),
        F.md5("c.cs").alias("h"),
    )
    boiler = (
        h.select("doc_id", "source", "h")
        .distinct()
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("source", "h")
    )
    drops = h.join(boiler, ["source", "h"]).select("doc_id", "ci")
    dlist = drops.groupBy("doc_id").agg(
        F.collect_list("ci").alias("dropped")
    )
    joined = docs.join(dlist, "doc_id", "left")
    dropped = F.coalesce(F.col("dropped"), F.array().cast("array<int>"))
    kept_cs = F.transform(
        F.filter(
            chunk_structs,
            lambda x: ~F.array_contains(dropped, x["ci"]),
        ),
        lambda x: x["cs"],
    )
    tail = F.array_join(
        F.slice(t, n * CHUNK_WORDS + 1, F.size(t) - n * CHUNK_WORDS), " "
    )
    return joined.select(
        "doc_id",
        n.cast("bigint").alias("n_chunks"),
        F.size(dropped).cast("bigint").alias("n_boiler"),
        F.trim(
            F.concat(
                F.coalesce(F.array_join(kept_cs, " "), F.lit("")),
                F.lit(" "),
                F.coalesce(tail, F.lit("")),
            )
        ).alias("clean_text"),
    )


# X126 — content-defined chunk dedup --------------------------------------
#: a token closes a CDC chunk when md5(token) starts with one of these
#: (P = 2/16 → geometric chunks, mean ~8 tokens — same unit mass as the
#: fixed grid, but boundaries move WITH the content).
CDC_BOUNDARY_HEX = ("0", "1")
#: report floor: chunks shorter than this are below the dedup-signal
#: noise floor (FastCDC's min-chunk-size, applied at report time so the
#: chunking itself stays stateless/oracle-exact).
CDC_MIN_REPORT = 3


@query(
    "cdc_chunk_dedup",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, t[i+1] AS tok, i AS pos
      FROM toks, UNNEST(range(0, len(t))) AS u(i)
    ),
    f AS (
      SELECT doc_id, tok, pos,
             CASE WHEN substr(md5(tok), 1, 1)
                       IN ('{CDC_BOUNDARY_HEX[0]}', '{CDC_BOUNDARY_HEX[1]}')
                  THEN 1 ELSE 0 END AS b
      FROM pos
    ),
    c AS (
      SELECT doc_id, tok, pos,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      FROM f
    ),
    chunks AS (
      SELECT doc_id, cid,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
             COUNT(*) AS clen
      FROM c GROUP BY doc_id, cid
    )
    SELECT chunk_hash,
           CAST(ANY_VALUE(clen) AS BIGINT) AS chunk_len,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occ
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
       AND ANY_VALUE(clen) >= {CDC_MIN_REPORT}
    """,
    tags=("dedup", "corpus", "extension"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126: CONTENT-DEFINED chunk dedup (the FastCDC/rsync family):
    chunk boundaries are cut where the content itself says so (a token
    whose md5 falls in a 2/16 bucket closes the chunk), so a repeated
    span is carved into the SAME chunks in every document regardless of
    its offset — the alignment robustness ``chunk_dedup``'s fixed
    {CHUNK_WORDS}-word grid lacks (an inserted word upstream shifts the
    grid and hides every downstream duplicate; here only the chunk
    containing the edit changes). Report: every ≥{CDC_MIN_REPORT}-token
    chunk repeated across ≥2 documents.

    Scale shape: the chunker is ONE narrow per-row ``F.aggregate`` fold
    (O(tokens) per doc, no per-token explode, no window — the oracle's
    prefix-sum-over-positions formulation would shuffle every token;
    the fold keeps chunking inside the scan projection). The explode
    emits chunk text but md5 collapses it to a 16-byte hash + length in
    the SAME projection, so the one exchange (partial-agg on
    chunk_hash) carries hashes, never text."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    empty = F.array().cast("array<string>")

    def is_boundary(x: F.Column) -> F.Column:
        return F.substring(F.md5(x), 1, 1).isin(*CDC_BOUNDARY_HEX)

    def merge(acc: F.Column, x: F.Column) -> F.Column:
        cur2 = F.concat(acc["cur"], F.array(x))
        return F.when(
            is_boundary(x),
            F.struct(
                F.concat(
                    acc["chunks"], F.array(F.array_join(cur2, " "))
                ).alias("chunks"),
                empty.alias("cur"),
            ),
        ).otherwise(
            F.struct(acc["chunks"].alias("chunks"), cur2.alias("cur"))
        )

    chunks = F.aggregate(
        t,
        F.struct(empty.alias("chunks"), empty.alias("cur")),
        merge,
        lambda acc: F.when(
            F.size(acc["cur"]) > 0,
            F.concat(acc["chunks"], F.array(F.array_join(acc["cur"], " "))),
        ).otherwise(acc["chunks"]),
    )
    exploded = docs.select(
        "doc_id", F.explode(chunks).alias("cs")
    ).select(
        "doc_id",
        F.md5("cs").alias("chunk_hash"),
        F.size(F.split("cs", " ")).cast("bigint").alias("chunk_len"),
    )
    return (
        exploded.groupBy("chunk_hash")
        .agg(
            F.first("chunk_len").alias("chunk_len"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(
            (F.col("n_docs") >= 2) & (F.col("chunk_len") >= CDC_MIN_REPORT)
        )
    )


# X134 — tokenizer compression-ratio report --------------------------------
def _compression_ratio_oracle() -> str:
    parts, last = _bpe_encode_parts()
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    , base AS (SELECT doc_id, len(t) AS n0 FROM toks0),
    merged AS (SELECT doc_id, len(t) AS n1 FROM {last})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(d.text)) AS BIGINT) AS n_chars,
           CAST(SUM(b.n0) AS BIGINT) AS n_tokens_base,
           CAST(SUM(m.n1) AS BIGINT) AS n_tokens_merged,
           CAST(ROUND(CAST(CAST(SUM(length(d.text)) AS DOUBLE)
                           / SUM(m.n1) AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS chars_per_token,
           CAST(ROUND(CAST(1.0 - CAST(SUM(m.n1) AS DOUBLE) / SUM(b.n0)
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS merge_savings
    FROM documents d
    JOIN base b ON b.doc_id = d.doc_id
    JOIN merged m ON m.doc_id = d.doc_id
    GROUP BY d.source
    """
    )


@query(
    "compression_ratio_report",
    oracle=_compression_ratio_oracle(),
    tags=("text", "corpus", "audit", "extension"),
)
def compression_ratio_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X134: TOKENIZER EFFICIENCY report — per source: chars per
    merged token (the number a tokenizer team tracks release to
    release; lower = more text per context window) and the token-count
    savings the ``BPE_TRAIN_ROUNDS`` trained merges bought over the
    whitespace base. Composes the registered encode fragment
    (``_bpe_encode_parts``) so the report states exactly the corpus
    ``bpe_encode_corpus`` ships.

    Float discipline: both ratios are single divisions of exact
    integer sums — identical doubles on both engines, rounded once.

    Scale shape: the merge replay is the trainer's (broadcast scalar
    winners + narrow folds, checkpointed rounds); token counts come
    from ``size(t)`` BEFORE any explode; the report is one
    source-keyed partial-agg shuffle carrying four ints per doc."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.length("text").alias("nc"),
        F.size(tokens()).alias("n0"),
    )
    merged = _bpe_merged(spark, sf_dir).select(
        "doc_id", F.size("t").alias("n1")
    )
    j = base.join(merged, "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nc").cast("bigint").alias("n_chars"),
        F.sum("n0").cast("bigint").alias("n_tokens_base"),
        F.sum("n1").cast("bigint").alias("n_tokens_merged"),
        exact_round(
            F.sum("nc").cast("double") / F.sum("n1"), 4
        ).alias("chars_per_token"),
        exact_round(
            F.lit(1.0) - F.sum("n1").cast("double") / F.sum("n0"), 4
        ).alias("merge_savings"),
    )


# X148 — frequent token-pair mining (Apriori 2-itemsets) -------------------
#: relative document-frequency support threshold for pair mining.
PAIR_MINSUP = 0.05


@query(
    "frequent_pair_mining",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dt AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_extract_all(lower(text), '\\S+')) AS token
      FROM documents
    ),
    df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df
      FROM dt GROUP BY token
    ),
    freq AS (
      SELECT token, df FROM df CROSS JOIN n
      WHERE df >= {PAIR_MINSUP} * n_docs
    ),
    ft AS (
      SELECT dt.doc_id, dt.token FROM dt
      JOIN freq ON dt.token = freq.token
    ),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM ft a JOIN ft b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token
    )
    SELECT p.token_a, p.token_b, p.support,
           fa.df AS df_a, fb.df AS df_b,
           CAST(ROUND(CAST(
             (CAST(p.support AS DOUBLE) * CAST(n.n_docs AS DOUBLE))
             / (CAST(fa.df AS DOUBLE) * CAST(fb.df AS DOUBLE))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS lift
    FROM pairs p
    JOIN freq fa ON p.token_a = fa.token
    JOIN freq fb ON p.token_b = fb.token
    CROSS JOIN n
    WHERE p.support >= {PAIR_MINSUP} * n.n_docs
    """,
    tags=("corpus", "llm", "extension"),
)
def frequent_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X148: FREQUENT-ITEMSET mining, the 2-itemset (Apriori) pass:
    token pairs co-occurring in >= 5% of documents, with each pair's
    LIFT (support·N / (df_a·df_b)) — the association signal behind
    template detection, collocation discovery, and topic drift
    monitoring (a lift >> 1 pair is a phrase/template; lift ~ 1 is
    chance co-occurrence of two common tokens).

    The Apriori pruning IS the scale story: pairs are generated only
    from tokens that individually pass the support threshold
    (downward-closure — an infrequent token cannot be in a frequent
    pair), so the candidate space is |frequent-vocab-in-doc|^2 per
    document, not |vocab|^2 (31 frequent tokens on this corpus at
    every SF — the threshold is relative, so the set is stable).

    Plan: distinct (doc, token) first (one exchange); the frequent
    vocabulary is support-bounded (a PER-DOC-distinct token in >= s·N
    docs means <= avg_doc_len/s such tokens can exist) and BROADCAST
    onto the corpus
    (vocabulary-bounded, the convention's allowed class); the pair
    self-join is doc-keyed so co-partitioned after one hash exchange;
    pair counting shuffles (token, token) short strings only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # r11 negative result (kept as-was): spread_scan and an eager dt
    # checkpoint were both tried and measured flat-to-slower at 8 and
    # 32 cores (1.42 -> 1.48-1.72 s) — the two ~0.3 s duplicated
    # tokenize legs run concurrently, so the extra exchange/barrier
    # costs more than it saves at this scale.
    dt = docs.select(
        "doc_id",
        F.explode(tokens()).alias("token"),
    ).distinct()
    df = dt.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    freq = df.crossJoin(F.broadcast(n_docs)).filter(
        F.col("df") >= F.lit(PAIR_MINSUP) * F.col("n_docs")
    ).select("token", "df")
    ft = dt.join(F.broadcast(freq.select("token")), "token").select(
        "doc_id", "token"
    )
    pairs = (
        ft.alias("a")
        .join(
            ft.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(
            F.col("a.token").alias("token_a"),
            F.col("b.token").alias("token_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    fa = freq.select(
        F.col("token").alias("token_a"), F.col("df").alias("df_a")
    )
    fb = freq.select(
        F.col("token").alias("token_b"), F.col("df").alias("df_b")
    )
    return (
        pairs.join(F.broadcast(fa), "token_a")
        .join(F.broadcast(fb), "token_b")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("support") >= F.lit(PAIR_MINSUP) * F.col("n_docs"))
        .select(
            "token_a",
            "token_b",
            "support",
            "df_a",
            "df_b",
            exact_round(
                (
                    F.col("support").cast("double")
                    * F.col("n_docs").cast("double")
                )
                / (
                    F.col("df_a").cast("double")
                    * F.col("df_b").cast("double")
                ),
                4,
            ).alias("lift"),
        )
    )


# X149 — inverted-index postings build -------------------------------------
#: vocabulary cap for the materialized postings (top-V by df).
INDEX_TOP_V = 64


@query(
    "inverted_index_postings",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '\\S+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY token
    ),
    top AS (
      SELECT token, df, total_tf FROM df
      ORDER BY df DESC, token LIMIT {INDEX_TOP_V}
    )
    SELECT t.token, d.df, d.total_tf, t.doc_id, t.tf
    FROM tf t JOIN top d ON t.token = d.token
    """,
    tags=("corpus", "llm", "extension"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X149: INVERTED-INDEX build — the search-infrastructure artifact
    behind ``bm25_retrieval`` (X88) materialized as relational
    postings: for the top-{INDEX_TOP_V} df tokens, every (token ->
    doc_id, tf) posting with the token's df and corpus tf carried —
    the exact table a retrieval shard loads, stated relationally so
    the oracle can check it row for row.

    Plan: one (doc, token) partial-agg exchange builds tf; df reduces
    token-keyed; the vocabulary cut is orderBy().limit (TakeOrdered
    per-partition heaps, never a global sort) with the full
    (df DESC, token) tiebreak so the LIMIT boundary is deterministic;
    the cut (<= {INDEX_TOP_V} rows) broadcasts back onto tf. Postings
    shuffle (token, bigint, bigint) — no text beyond the token
    itself. At 100 TB the postings sink is partitioned/bucketed by
    token; the plan is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf = (
        docs.select(
            "doc_id",
            F.explode(tokens()).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    top = df.orderBy(F.col("df").desc(), F.col("token")).limit(INDEX_TOP_V)
    return tf.join(F.broadcast(top), "token").select(
        "token", "df", "total_tf", "doc_id", "tf"
    )


# X167 — per-source dataset card --------------------------------------------
def _dataset_card_oracle() -> str:
    from ..registry import all_queries

    qs = all_queries()
    gopher = qs["gopher_quality_filter"].oracle
    exact = qs["exact_dedup"].oracle
    return f"""
    WITH base AS (
      SELECT doc_id, source, lang,
             CAST(len(regexp_extract_all(lower(text), '\\S+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    st AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM base GROUP BY source
    ),
    lc AS (
      SELECT source, lang, COUNT(*) AS c,
             row_number() OVER (PARTITION BY source
                                ORDER BY COUNT(*) DESC, lang) AS rn
      FROM base GROUP BY source, lang
    ),
    g AS (
      SELECT b.source,
             CAST(SUM(CASE WHEN q.passes THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass
      FROM base b JOIN ({gopher}) q ON b.doc_id = q.doc_id
      GROUP BY b.source
    ),
    k AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM ({exact}) GROUP BY source
    )
    SELECT st.source, st.n_docs, st.total_tokens,
           CAST(ROUND(CAST(CAST(st.total_tokens AS DOUBLE)
                           / CAST(st.n_docs AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS mean_tokens,
           st.n_langs,
           lc.lang AS top_lang,
           CAST(ROUND(CAST(CAST(g.n_pass AS DOUBLE)
                           / CAST(st.n_docs AS DOUBLE)
                           AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS gopher_pass_rate,
           CAST(ROUND(CAST(
             CAST(st.n_docs - k.n_kept AS DOUBLE)
             / CAST(st.n_docs AS DOUBLE)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS exact_dup_rate
    FROM st
    JOIN lc ON st.source = lc.source AND lc.rn = 1
    JOIN g ON st.source = g.source
    JOIN k ON st.source = k.source
    """


@query(
    "dataset_card_report",
    oracle=_dataset_card_oracle(),
    tags=("corpus", "audit", "llm", "extension"),
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X167: the DATASET CARD — the per-source datasheet a training-
    data release ships (Datasheets for Datasets / model-card
    practice): volume (docs, tokens, mean length), language mix
    (distinct langs + dominant language), quality (Gopher pass rate)
    and duplication (exact-dup rate, 1 − kept/total). Quality and
    dedup columns EMBED the registered ``gopher_quality_filter`` and
    ``exact_dedup`` oracles verbatim (X141 discipline) — the card can
    never disagree with the operators it summarizes.

    Plan: each embedded family keeps its registered plan; the card
    assembly is three source-keyed joins over |sources|-row frames;
    the dominant language is a per-source ranking window over
    (source, lang) counts — bounded by the language dimension, never
    by corpus size."""
    from ..registry import all_queries

    qs = all_queries()
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens()).cast("long").alias("n_tokens"),
    )
    st = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
    )
    wl = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang")
    )
    lc = (
        base.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    g = (
        base.select("doc_id", "source")
        .join(
            qs["gopher_quality_filter"]
            .fn(spark, sf_dir)
            .select("doc_id", "passes"),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("passes"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass")
        )
    )
    k = (
        qs["exact_dedup"]
        .fn(spark, sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        st.join(lc, "source")
        .join(g, "source")
        .join(k, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            exact_round(
                F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"), 4
            ).alias("mean_tokens"),
            "n_langs",
            "top_lang",
            exact_round(
                F.col("n_pass").cast("double") / F.col("n_docs").cast("double"), 4
            ).alias("gopher_pass_rate"),
            exact_round(
                (F.col("n_docs") - F.col("n_kept")).cast("double")
                / F.col("n_docs").cast("double"),
                4,
            ).alias("exact_dup_rate"),
        )
    )


# X176 — hybrid retrieval fusion (RRF) --------------------------------------
#: RRF smoothing constant and fused report size.
RRF_K = 60
RRF_TOP = 10


def _rrf_oracle() -> str:
    from ..registry import all_queries

    qs = all_queries()
    bm25 = qs["bm25_retrieval"].oracle
    sim = qs["similarity_topk"].oracle
    return f"""
    WITH b AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                  AS BIGINT) AS r
      FROM ({bm25})
    ),
    v AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id)
                  AS BIGINT) AS r
      FROM ({sim}) WHERE query_id = 0
    ),
    u AS (SELECT doc_id FROM b UNION SELECT doc_id FROM v)
    SELECT u.doc_id, b.r AS bm25_rank, v.r AS vec_rank,
           CAST(ROUND(CAST(
             COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + b.r), 0.0)
             + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + v.r), 0.0)
             AS DECIMAL(18,12)), 10) AS DOUBLE) AS rrf_score
    FROM u
    LEFT JOIN b ON u.doc_id = b.doc_id
    LEFT JOIN v ON u.doc_id = v.doc_id
    ORDER BY rrf_score DESC, u.doc_id
    LIMIT {RRF_TOP}
    """


@query(
    "hybrid_search_rrf",
    oracle=_rrf_oracle(),
    tags=("corpus", "retrieval", "llm", "extension"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X176: HYBRID SEARCH via Reciprocal-Rank Fusion — the modern RAG
    retrieval stack in one operator: the LEXICAL ranking (registered
    BM25, X82) and the VECTOR ranking (registered exact cosine top-k,
    X3, query 0 — vec_id aligns 1:1 with doc_id) fuse by
    RRF(d) = Σ 1/({RRF_K}+rank_list(d)), the score-scale-free fusion
    every hybrid search engine (Elastic, Vespa, pgvector guides)
    defaults to precisely because BM25 points and cosines are not
    comparable. Oracle embeds both registered oracles verbatim (X141
    discipline).

    Plan: both retrieval legs keep their registered plans and are
    already top-K-bounded, so ranking windows attach to ≤ {RRF_TOP}0
    -row frames (post-limit, allowlisted); fusion is two outer joins
    on doc_id over those tiny frames. The 1/({RRF_K}+r) terms are
    exact small-integer reciprocals in one IEEE order, rounded 10 dp.

    At 100 TB the legs scale independently (inverted index / ANN
    index) and fusion cost stays |candidate lists|."""
    from ..registry import all_queries

    qs = all_queries()
    b = (
        qs["bm25_retrieval"]
        .fn(spark, sf_dir)
        .withColumn(
            "r",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
            .cast("bigint"),
        )
        .select("doc_id", "r")
    )
    v = (
        qs["similarity_topk"]
        .fn(spark, sf_dir)
        .filter(F.col("query_id") == 0)
        .withColumn(
            "r",
            F.row_number()
            .over(Window.orderBy(F.col("cos_sim").desc(), "vec_id"))
            .cast("bigint"),
        )
        .select(F.col("vec_id").alias("doc_id"), "r")
    )
    u = b.select("doc_id").union(v.select("doc_id")).distinct()
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("bm25_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("vec_rank")), F.lit(0.0)
    )
    return (
        u.join(b.withColumnRenamed("r", "bm25_rank"), "doc_id", "left")
        .join(v.withColumnRenamed("r", "vec_rank"), "doc_id", "left")
        .select(
            "doc_id",
            "bm25_rank",
            "vec_rank",
            F.round(rrf.cast("decimal(18,12)"), 10)
            .cast("double")
            .alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(RRF_TOP)
    )


# X209 — batch novelty scoring ------------------------------------------------
#: shingle width (tokens) for the novelty screen — matches the standing
#: corpus convention of the incremental dedup family.
NOVELTY_K = 8


@query(
    "batch_novelty_scores",
    oracle=f"""
    WITH corpus_sh AS (
      SELECT DISTINCT
             substr(md5(array_to_string(
               (regexp_extract_all(lower(text), '\\S+'))[i+1:i+{NOVELTY_K}],
               ' ')), 1, 16) AS sh
      FROM documents,
           UNNEST(range(0, GREATEST(
             len(regexp_extract_all(lower(text), '\\S+'))
             - {NOVELTY_K} + 1, 0))) AS u(i)
      WHERE source = 'src0'
    ),
    batch_sh AS (
      SELECT DISTINCT doc_id,
             substr(md5(array_to_string(
               (regexp_extract_all(lower(text), '\\S+'))[i+1:i+{NOVELTY_K}],
               ' ')), 1, 16) AS sh
      FROM documents,
           UNNEST(range(0, GREATEST(
             len(regexp_extract_all(lower(text), '\\S+'))
             - {NOVELTY_K} + 1, 0))) AS u(i)
      WHERE source <> 'src0'
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN c.sh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN c.sh IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS DECIMAL(28,10)), 6) AS DOUBLE) AS novelty
    FROM batch_sh b LEFT JOIN corpus_sh c ON b.sh = c.sh
    GROUP BY b.doc_id
    """,
    tags=("corpus", "dedup", "curation", "extension"),
)
def batch_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X209: NOVELTY scoring of an ingest batch against the standing
    corpus — per batch document, the fraction of its distinct
    {NOVELTY_K}-token shingles never seen in the corpus
    (``source='src0'`` plays the standing corpus, the incremental-
    family convention, corpus.py:808). The VALUATION twin of the
    incremental dedup screens: those ask "is this a duplicate?";
    novelty asks "how much NEW text does this batch actually buy?" —
    the number a data-acquisition pipeline ranks sources by.

    Plan: shingle hashing is a narrow per-doc HOF; both sides reduce
    to DISTINCT (doc_id, 16-hex) / (16-hex) BEFORE the join, so the
    one hash-keyed exchange carries fingerprints only — never text;
    the novel test is a left join against the corpus's distinct
    shingle set (at deploy that set is the persisted index artifact
    of incremental_substring_update, not a rescan). Integer counts,
    one rounded IEEE ratio."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    sh = F.transform(
        F.sequence(F.lit(0), F.size(F.col("t")) - NOVELTY_K),
        lambda i: F.substring(
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), i + 1, NOVELTY_K))),
            1,
            16,
        ),
    )

    def shingles(side):
        # r11: each side's tokenize+md5 shingle projection was fused
        # into the single-task one-file scan (a measured 1.1 s stage);
        # spread first (no-op at deploy). The size filter is
        # no_pushdown-guarded so its derived-column definition is not
        # re-evaluated below the spread exchange (the _with_shingles
        # pushdown trap).
        return (
            spread_scan(side, "doc_id")
            .select("doc_id", t.alias("t"))
            .filter(no_pushdown(F.size("t") >= NOVELTY_K))
            .select("doc_id", F.explode(sh).alias("sh"))
        )

    corpus_sh = (
        shingles(docs.filter(F.col("source") == "src0"))
        .select(F.col("sh").alias("c_sh"))
        .distinct()
    )
    batch_sh = (
        shingles(docs.filter(F.col("source") != "src0"))
        .distinct()
    )
    j = batch_sh.join(
        corpus_sh, batch_sh.sh == corpus_sh.c_sh, "left"
    )
    novel = F.when(F.col("c_sh").isNull(), 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(novel).cast("bigint").alias("n_novel"),
        exact_round(
            F.sum(novel).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("novelty"),
    )


# X212 — Dunning log-likelihood-ratio collocations ---------------------------
#: minimum bigram count for an LLR-scored collocation candidate.
LLR_MIN_COUNT = 3
#: report size.
LLR_TOPK = 20


def _xlogx_sql(x: str) -> str:
    return f"(CASE WHEN {x} > 0 THEN CAST({x} AS DOUBLE) * ln(CAST({x} AS DOUBLE)) ELSE 0.0 END)"


@query(
    "collocation_llr_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '\\S+') AS t FROM documents
    ),
    big AS (
      SELECT t[u.i + 1] AS w1, t[u.i + 2] AS w2
      FROM toks, UNNEST(range(0, GREATEST(len(t) - 1, 0))) AS u(i)
    ),
    bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big GROUP BY 1, 2
    ),
    c1t AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY 1),
    c2t AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM big),
    cells AS (
      SELECT bc.w1, bc.w2, bc.c12, c1t.c1, c2t.c2, nt.n,
             bc.c12 AS k11, c1t.c1 - bc.c12 AS k12,
             c2t.c2 - bc.c12 AS k21,
             nt.n - c1t.c1 - c2t.c2 + bc.c12 AS k22
      FROM bc JOIN c1t USING (w1) JOIN c2t USING (w2) CROSS JOIN nt
      WHERE bc.c12 >= {LLR_MIN_COUNT}
    ),
    scored AS (
      SELECT w1, w2, c12,
             CAST(ROUND(CAST(2.0 * (
               {_xlogx_sql('k11')} + {_xlogx_sql('k12')}
               + {_xlogx_sql('k21')} + {_xlogx_sql('k22')}
               - {_xlogx_sql('(k11 + k12)')} - {_xlogx_sql('(k21 + k22)')}
               - {_xlogx_sql('(k11 + k21)')} - {_xlogx_sql('(k12 + k22)')}
               + {_xlogx_sql('n')}
             ) AS DECIMAL(28,10)), 6) AS DOUBLE) AS llr
      FROM cells
    )
    SELECT w1, w2, c12, llr
    FROM scored
    ORDER BY llr DESC, w1, w2
    LIMIT {LLR_TOPK}
    """,
    tags=("corpus", "textstats", "extension"),
)
def collocation_llr_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X212: DUNNING LOG-LIKELIHOOD-RATIO collocations — the
    statistically calibrated collocation miner (token_pmi's rigorous
    sibling: PMI overweights rare pairs; LLR's 2·2 contingency G² is
    comparable across frequencies, which is why Dunning 1993 is the
    default in corpus linguistics). Top-{LLR_TOPK} adjacent-token
    bigrams by G², minimum count {LLR_MIN_COUNT}.

    Float discipline: all nine contingency cells and margins are exact
    BIGINTs; G² is ONE shared IEEE expression over xlogx terms (JVM
    and libm ln agree beyond the 6-dp rounding, the unigram_surprisal
    precedent); ordering uses the ROUNDED value + full (w1, w2)
    tiebreak so the top-K set cannot flap across engines.

    Plan: one bigram explode → three partial-agg exchanges (pair, w1
    margin, w2 margin — each vocabulary-bounded, far smaller than the
    corpus); margins join back vocabulary-sized (AQE broadcasts);
    the single-row N crossJoins; top-K is TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    big = (
        docs.select(t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col("t")) - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), i + 1).alias("w1"),
                        F.element_at(F.col("t"), i + 2).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    bc = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .filter(F.col("c12") >= LLR_MIN_COUNT)
    )
    c1t = big.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    c2t = big.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    nt = big.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cells = (
        bc.join(c1t, "w1")
        .join(c2t, "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            "c12",
            F.col("c12").alias("k11"),
            (F.col("c1") - F.col("c12")).alias("k12"),
            (F.col("c2") - F.col("c12")).alias("k21"),
            (F.col("n") - F.col("c1") - F.col("c2") + F.col("c12")).alias(
                "k22"
            ),
            "n",
        )
    )

    def xlogx(c):
        cd = c.cast("double")
        return F.when(c > 0, cd * F.log(cd)).otherwise(F.lit(0.0))

    g2 = F.lit(2.0) * (
        xlogx(F.col("k11"))
        + xlogx(F.col("k12"))
        + xlogx(F.col("k21"))
        + xlogx(F.col("k22"))
        - xlogx(F.col("k11") + F.col("k12"))
        - xlogx(F.col("k21") + F.col("k22"))
        - xlogx(F.col("k11") + F.col("k21"))
        - xlogx(F.col("k12") + F.col("k22"))
        + xlogx(F.col("n"))
    )
    scored = cells.select(
        "w1",
        "w2",
        "c12",
        exact_round(g2, 6).alias("llr"),
    )
    return scored.orderBy(F.col("llr").desc(), "w1", "w2").limit(LLR_TOPK)


# X214-X217 — classifier evaluation family ------------------------------------
# The model-evaluation counterpart of the quality-gate family: treat
# quality_classifier_score as the MODEL and gopher_quality_filter as the
# REFERENCE LABEL (the standard bootstrap for corpus quality classifiers:
# rule-based labels train/validate the learned gate), and report the four
# standard evaluation artifacts — confusion matrix, exact tie-corrected
# AUC, reliability (calibration) bins, and a decile lift table. Every
# oracle embeds the two registered fragments verbatim (_R[...] — the
# quality_gate_comparison discipline), so the evaluation cannot drift
# from the operators it evaluates.


def _cls_label_sql() -> str:
    return f"""
      SELECT c.doc_id, c.score, g.passes AS label
      FROM ({_R["quality_classifier_score"].oracle}) c
      JOIN ({_R["gopher_quality_filter"].oracle}) g ON g.doc_id = c.doc_id
    """


def _cls_label_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textstats import classifier_frame, gopher_quality_filter

    docs = load_table(spark, sf_dir, "documents")
    c = classifier_frame(docs, feature_cols=False).select("doc_id", "score")
    g = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("label")
    )
    return c.join(g, "doc_id")


@query(
    "classifier_confusion_report",
    oracle=f"""
    WITH s AS ({_cls_label_sql()}),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN score >= 0.5 AND label THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN score >= 0.5 AND NOT label THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN score < 0.5 AND label THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN score < 0.5 AND NOT label THEN 1 ELSE 0 END)
             AS BIGINT) AS tn
      FROM s
    )
    SELECT tp, fp, fn, tn,
      CAST(ROUND(CAST(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS "precision",
      CAST(ROUND(CAST(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS recall,
      CAST(ROUND(CAST(
        2.0 * (CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0))
            * (CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0))
        / NULLIF((CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0))
                 + (CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0)), 0.0)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS f1,
      CAST(ROUND(CAST(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS accuracy
    FROM m
    """,
    tags=("corpus", "quality", "evaluation", "extension"),
)
def classifier_confusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X214: CONFUSION MATRIX of the learned quality gate against the
    Gopher rule labels — TP/FP/FN/TN plus precision/recall/F1/accuracy
    at the registered 0.5 threshold. The first question asked of any
    quality classifier before it gates a corpus: what does it keep
    that the rules would drop, and vice versa (FP here = docs the
    classifier admits that Gopher rejects — the cells a curator
    hand-reviews).

    Plan: two narrow single-projection gates, one doc-keyed join, one
    four-cell conditional-count reduction to a single row. Ratios are
    one shared IEEE expression each (NULLIF-guarded), rounded 6 dp."""
    s = _cls_label_frame(spark, sf_dir)
    pred = F.col("score") >= 0.5
    m = s.agg(
        F.sum(F.when(pred & F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(pred & ~F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~pred & F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~pred & ~F.col("label"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    tpd = F.col("tp").cast("double")
    prec = tpd / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0))
    rec = tpd / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0))
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        exact_round(prec, 6).alias("precision"),
        exact_round(rec, 6).alias("recall"),
        exact_round(
            F.lit(2.0) * prec * rec / F.nullif(prec + rec, F.lit(0.0)), 6
        ).alias("f1"),
        exact_round(
            (F.col("tp") + F.col("tn")).cast("double")
            / (
                F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
            ).cast("double"),
            6,
        ).alias("accuracy"),
    )


@query(
    "classifier_auc_report",
    oracle=f"""
    WITH s AS ({_cls_label_sql()}),
    counts AS (
      SELECT score AS v,
             CAST(COUNT(*) AS BIGINT) AS c_tot,
             CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS c_pos
      FROM s GROUP BY 1
    ),
    w AS (
      SELECT v, c_tot, c_pos,
             CAST(COALESCE(SUM(c_tot) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cumb
      FROM counts
    ),
    agg AS (
      SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
             CAST(SUM(c_tot) AS BIGINT) AS n,
             CAST(SUM(c_pos * (2 * cumb + c_tot + 1)) AS BIGINT) AS r2
      FROM w
    )
    SELECT n_pos, (n - n_pos) AS n_neg,
      CAST(ROUND(CAST(
        (CAST(r2 AS DOUBLE) / 2.0
         - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
        / NULLIF(CAST(n_pos AS DOUBLE) * CAST(n - n_pos AS DOUBLE), 0.0)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS auc
    FROM agg
    """,
    tags=("corpus", "quality", "evaluation", "extension"),
)
def classifier_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X215: EXACT ROC-AUC of the classifier score against the Gopher
    labels, computed by the tie-corrected rank-sum identity
    AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg) — the
    threshold-free companion to the confusion matrix (X214 judges ONE
    cutoff; AUC judges the whole ranking; ties get average ranks, the
    mann_whitney_u_test machinery reused verbatim on a score column).

    Exact arithmetic: average tie ranks as INTEGER doubled-ranks →
    BIGINT rank sums; AUC from three integer scalars in one rounded
    IEEE expression.

    Plan: scores collapse to a per-distinct-value tie table (≤10⁴ rows
    at ANY corpus size — scores are 4-dp), exclusive prefix via the
    X131 two-phase carry (allowlisted), one single-row reduction."""
    from ..functions.windows import prefix_sum

    s = _cls_label_frame(spark, sf_dir)
    counts = s.groupBy(F.col("score").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_tot"),
        F.count(F.when(F.col("label"), 1)).cast("bigint").alias("c_pos"),
    )
    # prefix_sum orders by an integer column: scores are 4-dp, so
    # v*10000 is an exact integer rank key with the same order.
    keyed = counts.withColumn(
        "vk",
        F.round(F.col("v").cast("decimal(6,4)") * 10000).cast("long"),
    )
    w = prefix_sum(keyed, F.col("c_tot"), "vk", "cum_incl").select(
        "c_tot",
        "c_pos",
        (F.col("cum_incl") - F.col("c_tot")).cast("bigint").alias("cumb"),
    )
    agg = w.agg(
        F.sum("c_pos").cast("bigint").alias("n_pos"),
        F.sum("c_tot").cast("bigint").alias("n"),
        F.sum(F.col("c_pos") * (2 * F.col("cumb") + F.col("c_tot") + 1))
        .cast("bigint")
        .alias("r2"),
    )
    npd = F.col("n_pos").cast("double")
    nnd = (F.col("n") - F.col("n_pos")).cast("double")
    return agg.select(
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        exact_round(
            (
                F.col("r2").cast("double") / F.lit(2.0)
                - npd * (npd + F.lit(1.0)) / F.lit(2.0)
            )
            / F.nullif(npd * nnd, F.lit(0.0)),
            6,
        ).alias("auc"),
    )


@query(
    "calibration_bins_report",
    oracle=f"""
    WITH s AS ({_cls_label_sql()}),
    b AS (
      SELECT LEAST(CAST(FLOOR(CAST(score AS DECIMAL(6,4)) * 10)
                        AS BIGINT), 9) AS bin,
             CAST(score AS DECIMAL(6,4)) AS sd, label
      FROM s
    ),
    g AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(sd) AS DECIMAL(38,4)) AS sum_score,
             CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS n_pos
      FROM b GROUP BY bin
    )
    SELECT bin, n_docs,
      CAST(ROUND(CAST(CAST(sum_score AS DOUBLE) / n_docs
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS mean_score,
      CAST(ROUND(CAST(CAST(n_pos AS DOUBLE) / n_docs
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS frac_pos,
      CAST(ROUND(CAST(ABS(CAST(sum_score AS DOUBLE) / n_docs
                          - CAST(n_pos AS DOUBLE) / n_docs)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS calibration_gap
    FROM g
    """,
    tags=("corpus", "quality", "evaluation", "extension"),
)
def calibration_bins_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X216: RELIABILITY (calibration) bins — ten fixed-width score
    bins, each reporting mean predicted score vs empirical positive
    rate and their gap: is a "0.8" from this classifier actually right
    80% of the time? The artifact behind choosing a gating threshold
    and behind temperature-recalibration decisions.

    Float discipline: bin edges are computed in EXACT decimal
    (score is 4-dp; DECIMAL(6,4)·10 floors exactly — a double
    floor(score*10) can land 0.3000 in bin 2), score sums are exact
    DECIMAL(38,4); the three ratios are one rounded IEEE division
    each.

    Plan: two narrow gates + one doc-keyed join; one 10-group partial
    agg — no window, no second scan."""
    s = _cls_label_frame(spark, sf_dir)
    sd = F.col("score").cast("decimal(6,4)")
    b = s.select(
        F.least(F.floor(sd * 10).cast("bigint"), F.lit(9)).alias("bin"),
        sd.alias("sd"),
        "label",
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("sd").cast("decimal(38,4)").alias("sum_score"),
        F.count(F.when(F.col("label"), 1)).cast("bigint").alias("n_pos"),
    )
    mean_s = F.col("sum_score").cast("double") / F.col("n_docs")
    frac_p = F.col("n_pos").cast("double") / F.col("n_docs")
    return g.select(
        "bin",
        "n_docs",
        exact_round(mean_s, 6).alias("mean_score"),
        exact_round(frac_p, 6).alias("frac_pos"),
        exact_round(F.abs(mean_s - frac_p), 6).alias("calibration_gap"),
    )


#: lift-table resolution: score deciles.
LIFT_DECILES = 10


def _lift_oracle() -> str:
    qlist = "[" + ", ".join(
        f"{i}.0/{LIFT_DECILES}" for i in range(1, LIFT_DECILES)
    ) + "]"
    qs = ",\n             ".join(
        f"CAST(ROUND(CAST(qv[{i}] AS DECIMAL(28,10)), 4) AS DOUBLE)"
        f" AS d{i}"
        for i in range(1, LIFT_DECILES)
    )
    ladder = "\n             ".join(
        f"WHEN score <= b.d{i} THEN {i}"
        for i in range(1, LIFT_DECILES)
    )
    return f"""
    WITH s AS ({_cls_label_sql()}),
    q AS (SELECT quantile_cont(score, {qlist}) AS qv FROM s),
    b AS (SELECT {qs} FROM q),
    assigned AS (
      SELECT CAST(CASE
             {ladder}
             ELSE {LIFT_DECILES} END AS BIGINT) AS decile, label
      FROM s CROSS JOIN b
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS pos_all
      FROM s
    )
    SELECT a.decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE a.label) AS BIGINT) AS n_pos,
           CAST(ROUND(CAST(
             CAST(COUNT(*) FILTER (WHERE a.label) AS DOUBLE) / COUNT(*)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS pos_rate,
           CAST(ROUND(CAST(
             (CAST(COUNT(*) FILTER (WHERE a.label) AS DOUBLE) / COUNT(*))
             / (CAST(t.pos_all AS DOUBLE) / t.n_all)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS lift
    FROM assigned a CROSS JOIN tot t
    GROUP BY a.decile, t.n_all, t.pos_all
    """


@query(
    "classifier_lift_table",
    oracle=_lift_oracle(),
    tags=("corpus", "quality", "evaluation", "extension"),
)
def classifier_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X217: LIFT table — corpus split into {LIFT_DECILES} equal-mass
    score deciles (exact quantile boundaries), each reporting its
    positive rate and lift over the base rate. The business-facing
    evaluation view: "the top decile is 1.8× as likely to be
    rules-quality" is the sentence that justifies a score-ranked
    curation budget. Decile 10 = highest scores.

    Plan: one exact-percentile aggregate → 1-row boundary frame
    broadcast back (the equi_depth/curriculum ladder); the base rate
    is a second 1-row broadcast; one 10-group partial agg. No window,
    no collect; approx_percentile swaps in at deploy."""
    s = _cls_label_frame(spark, sf_dir)
    fr = F.array(
        *[F.lit(i / LIFT_DECILES) for i in range(1, LIFT_DECILES)]
    )
    bounds = s.agg(F.percentile("score", fr).alias("qv")).select(
        *[
            exact_round(F.element_at("qv", i), 4).alias(f"d{i}")
            for i in range(1, LIFT_DECILES)
        ]
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.count(F.when(F.col("label"), 1)).cast("bigint").alias("pos_all"),
    )
    assigned = s.crossJoin(F.broadcast(bounds))
    ladder = F.when(F.col("score") <= F.col("d1"), F.lit(1))
    for i in range(2, LIFT_DECILES):
        ladder = ladder.when(F.col("score") <= F.col(f"d{i}"), F.lit(i))
    ladder = ladder.otherwise(F.lit(LIFT_DECILES))
    g = (
        assigned.select(ladder.cast("bigint").alias("decile"), "label")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("label"), 1))
            .cast("bigint")
            .alias("n_pos"),
        )
        .crossJoin(F.broadcast(tot))
    )
    rate = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    base = F.col("pos_all").cast("double") / F.col("n_all").cast("double")
    return g.select(
        "decile",
        "n_docs",
        "n_pos",
        exact_round(rate, 6).alias("pos_rate"),
        exact_round(rate / base, 6).alias("lift"),
    )


# X221 — per-source reputation scoreboard -------------------------------------
#: reputation blend weights: rule quality, learned quality, uniqueness.
REP_W_GOPHER, REP_W_SCORE, REP_W_UNIQ = 0.4, 0.4, 0.2


@query(
    "source_reputation_score",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, passes FROM ({_R["gopher_quality_filter"].oracle})
    ),
    c AS (
      SELECT doc_id, CAST(score AS DECIMAL(6,4)) AS sd
      FROM ({_R["quality_classifier_score"].oracle})
    ),
    d AS (
      SELECT doc_id, source,
             COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
      FROM documents
    ),
    per AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN g.passes THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
             CAST(SUM(c.sd) AS DECIMAL(38,4)) AS sum_score,
             CAST(SUM(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
      FROM d JOIN g ON g.doc_id = d.doc_id JOIN c ON c.doc_id = d.doc_id
      GROUP BY d.source
    ),
    m AS (
      SELECT source, n_docs,
        CAST(ROUND(CAST(CAST(n_pass AS DOUBLE) / n_docs
          AS DECIMAL(28,10)), 6) AS DOUBLE) AS gopher_rate,
        CAST(ROUND(CAST(CAST(sum_score AS DOUBLE) / n_docs
          AS DECIMAL(28,10)), 6) AS DOUBLE) AS mean_score,
        CAST(ROUND(CAST(CAST(n_dup AS DOUBLE) / n_docs
          AS DECIMAL(28,10)), 6) AS DOUBLE) AS dup_rate
      FROM per
    )
    SELECT source, n_docs, gopher_rate, mean_score, dup_rate,
      CAST(ROUND(CAST(
        CAST({REP_W_GOPHER} AS DOUBLE) * gopher_rate
        + CAST({REP_W_SCORE} AS DOUBLE) * mean_score
        + CAST({REP_W_UNIQ} AS DOUBLE)
          * (CAST(1.0 AS DOUBLE) - dup_rate)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS reputation
    FROM m
    """,
    tags=("corpus", "curation", "audit", "extension"),
)
def source_reputation_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X221: SOURCE REPUTATION scoreboard — one row per source blending
    rule quality (Gopher pass rate), learned quality (mean classifier
    score) and uniqueness (1 − exact-dup involvement) into a single
    reputation = {REP_W_GOPHER}·gopher + {REP_W_SCORE}·score +
    {REP_W_UNIQ}·uniq. The acquisition-side companion of
    dataset_card_report: the card DESCRIBES each source; this RANKS
    them — the number that decides whose crawl budget grows. Embeds
    the registered gopher + classifier fragments verbatim (_R
    discipline) so the scoreboard cannot drift from the gates.

    Float discipline: classifier scores are 4-dp → DECIMAL(38,4)
    exact sums; the three component rates round to 6 dp BEFORE the
    blend, so the blend is arithmetic on identical doubles both
    engines; dup involvement is an md5-keyed count window (hashes on
    the wire, the dedup_soft_weights shuffle).

    Plan: two narrow gate projections + one dup-count window + two
    doc-keyed joins → one source-keyed partial agg (|sources| rows)."""
    from .textstats import classifier_frame, gopher_quality_filter

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("label")
    )
    c = classifier_frame(docs, feature_cols=False).select(
        "doc_id", F.col("score").cast("decimal(6,4)").alias("sd")
    )
    dw = Window.partitionBy(F.md5("text"))
    d = docs.select(
        "doc_id",
        "source",
        (F.count(F.lit(1)).over(dw) > 1).alias("is_dup"),
    )
    per = (
        d.join(g, "doc_id")
        .join(c, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("label"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass"),
            F.sum("sd").cast("decimal(38,4)").alias("sum_score"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
    )

    def rate(num):
        return exact_round(num.cast("double") / F.col("n_docs"), 6)

    m = per.select(
        "source",
        "n_docs",
        rate(F.col("n_pass")).alias("gopher_rate"),
        rate(F.col("sum_score")).alias("mean_score"),
        rate(F.col("n_dup")).alias("dup_rate"),
    )
    return m.select(
        "source",
        "n_docs",
        "gopher_rate",
        "mean_score",
        "dup_rate",
        exact_round(
            F.lit(REP_W_GOPHER) * F.col("gopher_rate")
            + F.lit(REP_W_SCORE) * F.col("mean_score")
            + F.lit(REP_W_UNIQ) * (F.lit(1.0) - F.col("dup_rate")),
            6,
        ).alias("reputation"),
    )


# X232 — cross-source quantile normalization of quality scores -----------------
@query(
    "quantile_normalize_scores",
    oracle=f"""
    WITH s AS (
      SELECT c.doc_id, d.source, CAST(c.score AS DECIMAL(6,4)) AS sd
      FROM ({_R["quality_classifier_score"].oracle}) c
      JOIN documents d ON d.doc_id = c.doc_id
    ),
    src_rank AS (
      SELECT doc_id, source, sd,
             row_number() OVER (PARTITION BY source
                                ORDER BY sd, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM s
    ),
    ties AS (
      SELECT sd AS v, CAST(COUNT(*) AS BIGINT) AS c_tot
      FROM s GROUP BY sd
    ),
    gcum AS (
      SELECT v, c_tot,
             CAST(COALESCE(SUM(c_tot) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cumb
      FROM ties
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM s),
    keyed AS (
      SELECT sr.doc_id, sr.source, sr.sd,
             CAST(FLOOR((CAST(sr.r AS DOUBLE) - 0.5) / sr.n_s
                        * (CAST(nn.n_all AS DOUBLE) - 1.0) + 0.5)
                  AS BIGINT) + 1 AS k
      FROM src_rank sr CROSS JOIN n nn
    )
    SELECT kd.doc_id, kd.source,
           CAST(kd.sd AS DOUBLE) AS score,
           CAST(g.v AS DOUBLE) AS normalized_score
    FROM keyed kd
    JOIN gcum g ON kd.k > g.cumb AND kd.k <= g.cumb + g.c_tot
    """,
    tags=("corpus", "quality", "curation", "extension"),
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X232: cross-source QUANTILE NORMALIZATION of the classifier
    score — each document's score is replaced by the GLOBAL score at
    its within-source quantile, the batch-effect correction that makes
    one threshold meaningful across sources whose encoders/crawlers
    shift the raw distribution (the per-source sibling of
    per_source_quality_floor: the floor drops the tail, this aligns
    the whole distribution).

    Mechanics: within-source rank r of n_s maps to plotting position
    (r−0.5)/n_s, then to the global order statistic at index
    floor(p·(N−1)+0.5)+1 — looked up against the global TIE TABLE
    (each distinct value covers global positions (cumb, cumb+c]),
    never against a sorted copy of the corpus.

    Plan: within-source ranks are PARTITIONED windows (bounded per
    source); the global CDF is the X131 prefix carry over the
    ≤10⁴-row tie table (scores are 4-dp; allowlisted); the lookup is
    a RANGE join against that broadcast-sized tie table. Integer rank
    arithmetic; the index uses floor(x+0.5) — the shared half-rule."""
    from pyspark.sql import Window

    from ..functions.windows import prefix_sum
    from .textstats import classifier_frame

    docs = load_table(spark, sf_dir, "documents")
    # scored frame pinned once: FOUR consumers (ranks, tie table, N,
    # lookup probe) would each replay the regex-heavy classifier
    # projection otherwise — measured 11.3 -> ~3 s at sf0.1.
    s = (
        classifier_frame(docs, feature_cols=False)
        .select("doc_id", F.col("score").cast("decimal(6,4)").alias("sd"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=True)
    )
    wsrc = Window.partitionBy("source").orderBy("sd", "doc_id")
    src_rank = s.select(
        "doc_id",
        "source",
        "sd",
        F.row_number().over(wsrc).alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("n_s"),
    )
    ties = s.groupBy(F.col("sd").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c_tot")
    )
    keyed_ties = ties.withColumn(
        "vk", (F.col("v") * 10000).cast("long")
    )
    gcum = prefix_sum(keyed_ties, F.col("c_tot"), "vk", "cum_incl").select(
        "v",
        "c_tot",
        (F.col("cum_incl") - F.col("c_tot")).cast("bigint").alias("cumb"),
    )
    n = s.agg(F.count(F.lit(1)).cast("bigint").alias("n_all"))
    keyed = src_rank.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "sd",
        (
            F.floor(
                (F.col("r").cast("double") - F.lit(0.5))
                / F.col("n_s")
                * (F.col("n_all").cast("double") - F.lit(1.0))
                + F.lit(0.5)
            ).cast("bigint")
            + 1
        ).alias("k"),
    )
    return keyed.join(
        F.broadcast(gcum),
        (F.col("k") > F.col("cumb"))
        & (F.col("k") <= F.col("cumb") + F.col("c_tot")),
    ).select(
        "doc_id",
        "source",
        F.col("sd").cast("double").alias("score"),
        F.col("v").cast("double").alias("normalized_score"),
    )


# X242 — intra-document chunk dedup (within-doc repetition strip) -----------
@query(
    "intra_doc_chunk_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, t,
             CAST(FLOOR(len(t) / {CHUNK_WORDS}) AS BIGINT) AS n_full,
             list_transform(range(0, CAST(FLOOR(len(t) / {CHUNK_WORDS})
                                          AS BIGINT)),
                            j -> t[(j*{CHUNK_WORDS}+1):(j*{CHUNK_WORDS}
                                   +{CHUNK_WORDS})]) AS chunks
      FROM toks
    )
    SELECT doc_id,
           n_full AS n_chunks,
           CAST(n_full - len(list_filter(chunks,
                  (c, j) -> list_position(chunks, c) = j)) AS BIGINT)
             AS n_dropped,
           COALESCE(array_to_string(
             list_concat(
               flatten(list_filter(chunks,
                 (c, j) -> list_position(chunks, c) = j)),
               t[(n_full*{CHUNK_WORDS}+1):len(t)]),
             ' '), '') AS clean_text
    FROM g
    """,
    tags=("corpus", "dedup", "extension"),
)
def intra_doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X242: WITHIN-document repetition strip — the RefinedWeb-style
    line/paragraph correction the cross-document family can't express:
    repeated {CHUNK_WORDS}-word chunks INSIDE one document are dropped
    keep-first (navigation loops, scraped pagination, chorus repeats),
    independent of every other document. chunk_dedup (X56) dedups the
    grid ACROSS docs; this is its per-doc sibling.

    The 100 TB story is the whole point: keep-first within an array is
    ``array_position(chunks, c) == own index`` — a pure narrow array
    program fused into the scan. No KEYED shuffle, no join, no state:
    the one dedup operator that is embarrassingly parallel, so it runs
    first in an admission pipeline at full scan speed. (Locally the
    raw text is round-robin spread before the heavy projection — the
    _with_shingles single-file-scan discipline; at cluster scale the
    scan already has splits and AQE coalesces the extra exchange.)"""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    t = tokens()
    n_full = F.floor(F.size("t") / CHUNK_WORDS).cast("bigint")
    # sequence(0, -1) DESCENDS (Spark never returns empty) — guard the
    # no-full-chunk docs with an explicit empty array.
    chunks = F.when(
        F.col("n_full") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("n_full") - 1),
            lambda j: F.slice(F.col("t"), j * CHUNK_WORDS + 1, CHUNK_WORDS),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    kept = F.filter(
        F.col("chunks"),
        lambda c, j: F.array_position(F.col("chunks"), c) == j + 1,
    )
    tail = F.slice(
        F.col("t"),
        (F.col("n_full") * CHUNK_WORDS + 1).cast("int"),
        (F.size("t") - F.col("n_full") * CHUNK_WORDS).cast("int"),
    )
    return (
        docs.select("doc_id", t.alias("t"))
        .withColumn("n_full", n_full)
        .withColumn("chunks", chunks)
        .select(
            "doc_id",
            F.col("n_full").alias("n_chunks"),
            (F.col("n_full") - F.size(kept)).cast("bigint").alias(
                "n_dropped"
            ),
            F.coalesce(
                F.array_join(F.concat(F.flatten(kept), tail), " "),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


# X243 — positional phrase search (positional-postings intersection) --------
#: the phrase queried by the registered report — two common corpus
#: tokens, so the postings intersection actually exercises volume.
PHRASE_W1 = "data"
PHRASE_W2 = "line"


@query(
    "phrase_search_positional",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    e AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok
      FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    a AS (SELECT doc_id, pos FROM e WHERE tok = '{PHRASE_W1}'),
    b AS (SELECT doc_id, pos - 1 AS pos FROM e WHERE tok = '{PHRASE_W2}')
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM a JOIN b USING (doc_id, pos)
    GROUP BY a.doc_id
    """,
    tags=("corpus", "retrieval", "extension"),
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X243: EXACT-PHRASE search by positional-postings intersection —
    the operation inverted_index_postings (X149) cannot answer (its
    postings carry no positions): documents containing the consecutive
    token pair '{PHRASE_W1} {PHRASE_W2}', with occurrence count and
    first position. The adjacency test is a pure EQUI-join — the second
    word's postings are keyed at ``pos - 1``, so (doc_id, pos) hash
    joins directly (never a theta/band join).

    Scale shape: each phrase word's postings list is (doc_id, int pos)
    pairs — the only thing shuffled; rare words prune the join to
    near-nothing, common words stay a hash join on composite keys. A
    k-word phrase chains k-1 such equi-joins, each shrinking the
    candidate set — the classic positional-index merge, expressed as
    joins Catalyst can reorder."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    e = docs.select(
        "doc_id", F.posexplode(t).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")
    a = e.filter(F.col("tok") == PHRASE_W1).select("doc_id", "pos")
    b = e.filter(F.col("tok") == PHRASE_W2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
    )
