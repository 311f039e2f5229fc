"""Deduplication operators over ``documents`` — driver-mandated
extension surface (SURVEY.md §2.8 X1/X2 + the training-data-pipeline
brief): exact dedup, n-gram-Jaccard near-dup, MinHash-LSH near-dup,
SimHash fingerprints, and embedding-cosine near-dup.

Scale design (100 TB):
- exact: hash-groupBy on a digest of the text (shuffle on 16-byte key,
  never on the document body).
- ngram-jaccard: shingle-inverted-index self-join — the exact-verify
  stage you run *after* LSH blocking at scale; here it doubles as the
  oracle-checkable ground truth.
- minhash-LSH: the scale path (candidate pairs ∝ collisions, not n²),
  via MLlib MinHashLSH with a fixed seed.
- simhash: 60-bit fingerprint; near-dup candidates = small hamming
  distance; fingerprinting itself is a narrow map + one groupBy.
- embedding cosine: label-blocked pair join (stand-in for LSH/IVF
  bucketing) + exact cosine in Spark SQL higher-order functions.
"""

from __future__ import annotations

import random
import shutil
from hashlib import md5

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, no_pushdown, spread_scan
from ..functions.parity import exact_round, md5_int, tokens
from ..functions.vectors import as_double, cosine, cosine_oracle_sql
from ..memo import ARTIFACTS, input_identity
from ..registry import query
from ..session import scratch_dir

JACCARD_THRESHOLD = 0.6
COSINE_THRESHOLD = 0.30


def _with_shingles(
    df: DataFrame, n: int = 3, materialize: bool = True
) -> DataFrame:
    """(doc_id, sh): distinct word n-gram shingles per document; docs
    with < n tokens are dropped.

    Plan-shape care (measured at sf0.1): tokenize into a materialized
    column first and filter on token count *between* the two projections
    — a post-hoc ``filter(size(sh) > 0)`` gets predicate-pushed below
    the projection with the whole shingle expression inlined, making
    Catalyst re-run the regex ~6× per row (40 s → 4 s fix). The filter
    also guarantees ``sequence()`` never goes descending."""
    toks = F.col("__toks")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )
    )
    # Repartition the raw text BEFORE the expensive tokenize/shingle
    # projection: a single-file parquet scan is one input partition, so
    # without this the whole per-row compute runs on one core.
    # Unconditional: probing .rdd.getNumPartitions() under AQE would
    # execute the plan just to ask. (At cluster scale the scan already
    # has many splits and AQE coalesces the extra shuffle.)
    spread = df.select("doc_id", "text").repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    # r11: no_pushdown pins the token-count filter ABOVE the spread
    # exchange — pushdown substituted the regex tokenization into the
    # predicate and ran it single-task at the scan (measured: the plan
    # carried size(regexp_extract_all(...)) in the scan's DataFilters,
    # ~3 s on one core at sf0.1, then tokenized AGAIN post-exchange).
    out = (
        spread.select("doc_id", tokens().alias("__toks"))
        .filter(no_pushdown(F.size(toks) >= n))
        .select("doc_id", sh.alias("sh"))
    )
    # Materialization barrier. Without it, downstream explode() inlines
    # the transform into the Generate and codegen re-evaluates the whole
    # shingle expression PER EMITTED ELEMENT (measured ~10 s vs ~0.4 s at
    # sf0.1); the self-joins downstream would also recompute the lineage
    # per side. At cluster scale: persist()/write the shingle index.
    # ``materialize=False`` hands the caller the LAZY frame for pipelines
    # that pin it to disk themselves (the PPJoin parquet index): a heap
    # localCheckpoint of raw shingle-string arrays is exactly the ×100
    # memory hazard the r8 probe OOMed on.
    if not materialize:
        return out
    return out.localCheckpoint()


def shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS 3-gram shingle index ``(doc_id, n, sh)`` as ONE
    parquet artifact per (session, corpus) — shared by every operator
    that shingles the full documents table (exact-Jaccard join,
    contamination check, MinHash verify legs, SNM/simhash verify,
    PPJoin). Before r9 each of those queries heap-localCheckpointed
    its own copy of the same frame (the ×100 probe's OOM class, paid
    ~8× per bench run); now the first consumer writes the disk-backed
    index and the rest scan it — the "written shingle index" the
    docstrings promise, and the deployment handoff shape.

    Batch-scoped frames (the incremental screens' NEW-docs shingles)
    still call :func:`_with_shingles` directly — the artifact is only
    for the standing corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return _persisted_doc_artifact(
        spark,
        sf_dir,
        "shingle_index",
        lambda: _with_shingles(docs, 3, materialize=False).select(
            "doc_id", F.size("sh").alias("n"), "sh"
        ),
    )

# X1 ----------------------------------------------------------------------
@query(
    "exact_dedup",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    tags=("dedup", "extension"),
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact duplicate removal, deterministic keep-lowest-doc_id.
    Grouping key is md5(text) so the shuffle moves 16-byte digests, not
    document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.select(
            "doc_id", "lang", "source", "n_chars", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# X2a — exact n-gram Jaccard (oracle-checkable ground truth) -------------
_SHINGLES_SQL = """
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(regexp_extract_all(lower(text), '\\S+')) - 1),
               i -> regexp_extract_all(lower(text), '\\S+')[i] || ' ' ||
                    regexp_extract_all(lower(text), '\\S+')[i+1] || ' ' ||
                    regexp_extract_all(lower(text), '\\S+')[i+2])) AS sh
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '\\S+')) >= 3
"""


@query(
    "near_dedup_ngram_jaccard",
    oracle=f"""
    WITH t AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS inter, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(ROUND(CAST(CAST(inter AS DOUBLE) / (na + nb - inter)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS jaccard
    FROM p
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "extension"),
)
def near_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (exact form): word-3-gram Jaccard similarity ≥ threshold via a
    shingle inverted-index self-join. This is the verify stage of a
    MinHash/LSH pipeline; at 100 TB you run it only on LSH candidate
    pairs (see ``near_dedup_minhash``), never all-pairs. Integer
    set-size arithmetic → exact oracle parity."""
    docs = load_table(spark, sf_dir, "documents")
    t = shingle_index(spark, sf_dir).select("doc_id", "sh")
    # n computed BEFORE the explode — referencing size(sh) after it
    # would carry the whole shingle array through every generated row.
    e = t.select("doc_id", F.size("sh").alias("n"), "sh").select(
        "doc_id", "n", F.explode("sh").alias("shingle")
    )
    a = e.alias("a")
    b = e.hint("shuffle_hash").alias("b")
    # Size-ratio prune, implied by the threshold: jac = i/(na+nb-i) and
    # i <= min(na,nb) force min >= t*max for any surviving pair — so
    # pairs failing it are dropped IN the join, before the per-pair
    # count agg ever sees them. Result-identical (the final filter
    # would kill them anyway); at 100 TB this is the standard
    # length-filter that makes shingle self-joins tractable.
    ratio_ok = (
        F.least(F.col("a.n"), F.col("b.n"))
        >= F.greatest(F.col("a.n"), F.col("b.n")) * JACCARD_THRESHOLD
    )
    p = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.any_value(F.col("a.n")).alias("na"),
            F.any_value(F.col("b.n")).alias("nb"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return p.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a",
        "doc_b",
        exact_round(jac, 4).alias("jaccard"),
    )


# X2d — near-dup clusters: connected components over the pair graph -----
@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE t AS ({_SHINGLES_SQL}),
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
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
    FROM reach GROUP BY a
    """,
    tags=("dedup", "graph", "extension"),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2d: connected components over the near-duplicate pair graph —
    each near-dup document labeled with its cluster's minimum doc_id
    (the canonical representative a dedup pipeline keeps).

    Runs :func:`cc_large_small_star` — the O(log² n)-round,
    shuffle-efficient CC for massive graphs; a property test asserts it
    reaches a driver-side union-find's fixpoint on generated graphs.
    The DuckDB oracle states the same fixpoint as a recursive
    transitive closure."""
    pairs = near_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.toDF("src", "dst")
    return cc_large_small_star(edges).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def cc_large_small_star(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14) — the 100 TB CC: each round is two groupBy+join passes
    that re-wire edges toward the component minimum, converging in
    O(log² n) rounds regardless of diameter (vs diameter rounds for
    plain label propagation). No driver-side adjacency, no global
    state; every pass shuffles on vertex id only.

    large-star: every node ``u`` attaches its strictly-larger
    neighbors to ``m = min(N(u) ∪ {u})``. small-star: with edges
    oriented high→low, every node attaches its smaller neighbors (and
    itself) to the minimum. At the fixpoint the edge set is exactly
    the star graphs ``(root, v)``.

    Returns (id, label) for every vertex in ``edges``; raises if not
    converged within ``max_rounds`` so an incomplete clustering can
    never pass as correct."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
        .localCheckpoint()
    )
    converged = e.isEmpty()  # no edges → all singletons, already done
    for _ in range(max_rounds):
        if converged:
            break
        # large-star: symmetric neighborhoods; attach v > u to the min
        nbr = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        m = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            nbr.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct()
        )
        # small-star: per high node, attach itself and all smaller
        # neighbors to the minimum neighbor (m < hi always holds)
        sm = large.groupBy("hi").agg(F.min("lo").alias("m"))
        joined = large.join(sm, "hi")
        out = (
            joined.select(F.col("m").alias("lo"), F.col("hi").alias("hi"))
            .union(
                joined.filter(F.col("lo") != F.col("m")).select(
                    F.col("m").alias("lo"), F.col("lo").alias("hi")
                )
            )
            .distinct()
            .localCheckpoint()
        )
        converged = out.count() == e.count() and out.exceptAll(e).isEmpty()
        e = out
    if not converged:
        raise RuntimeError(
            f"cc_large_small_star did not converge in {max_rounds} rounds"
        )
    roots = e.groupBy("hi").agg(F.min("lo").alias("label"))
    return verts.join(roots, verts.id == roots.hi, "left").select(
        "id", F.coalesce(F.col("label"), F.col("id")).alias("label")
    )


# X2e — cluster-aware dedup: keep the best document per near-dup group --
@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE t AS ({_SHINGLES_SQL}),
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
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
    ),
    clusters AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             length(d.text) AS n_chars_actual
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id FROM (
      SELECT doc_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars_actual DESC, doc_id) AS rn
      FROM labeled
    ) WHERE rn = 1
    """,
    tags=("dedup", "graph", "extension"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2e: the full curation dedup — every document labeled with its
    near-dup cluster (singletons = their own cluster), then ONE
    representative kept per cluster: the longest document, doc_id
    tiebreak. This is the keep-policy step of a training-data dedup
    pipeline (cluster → score → keep-best), composed from
    ``near_dup_clusters`` + a per-cluster ranking window."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars_actual")
    )
    clusters = near_dup_clusters(spark, sf_dir)
    labeled = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        "n_chars_actual",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars_actual").desc(), "doc_id"
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id")
    )


# X2b — MinHash LSH (the scale path; no SQL oracle → rows-only check) ----
def near_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (library path, UNREGISTERED): MinHash-LSH candidate pairs via
    MLlib (HashingTF → MinHashLSH, fixed seed), filtered at Jaccard
    distance ≤ 1-threshold. Kept as the library-integration path —
    MLlib's private hash family is not SQL-expressible, so this variant
    can only ever be rows-only; the REGISTERED ``near_dedup_minhash``
    uses the explicit seeded affine family and is oracle-exact
    (r7-verdict task 6). Recall vs the exact all-pairs ground truth is
    bounded in tests/test_sketches.py."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, sf_dir, "documents")
    t = shingle_index(spark, sf_dir).select(
        "doc_id", F.col("sh").alias("shingles")
    )
    htf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = htf.transform(t)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, 1.0 - JACCARD_THRESHOLD, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1.0 - F.col("jaccard_dist"), 4).alias("jaccard_est"),
        )
    )


# X44 — benchmark contamination check ------------------------------------
#: every doc_id divisible by this is "the benchmark/eval set".
BENCH_MOD = 97


@query(
    "contamination_check",
    oracle=f"""
    WITH t AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
    bench AS (SELECT DISTINCT shingle FROM e WHERE doc_id % {BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, shingle FROM e WHERE doc_id % {BENCH_MOD} <> 0)
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM corpus c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id
    """,
    tags=("dedup", "contamination", "extension"),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44: benchmark-contamination audit — for each training document,
    how many of its n-gram shingles also appear in the held-out
    benchmark set (docs with ``doc_id % {mod} == 0`` stand in for an
    eval suite). Any hit means eval text leaked into training data.

    The benchmark shingle set is tiny relative to the corpus, so it
    broadcasts — the corpus side streams through a map-side hash join
    with NO shuffle of corpus shingles. 3-gram shingles here for
    oracle-shared machinery; production contamination checks use the
    same plan at 8-13 grams."""
    docs = load_table(spark, sf_dir, "documents")
    t = shingle_index(spark, sf_dir).select("doc_id", "sh")
    e = t.select("doc_id", F.explode("sh").alias("shingle"))
    bench = (
        e.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("shingle")
        .distinct()
    )
    corpus = e.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
    )


# SimHash -----------------------------------------------------------------
_SIMHASH_BITS = 60


def _simhash_oracle() -> str:
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '\\S+'))) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ), bits AS (
      SELECT doc_id,
           {bit_sums}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id, {combine} AS simhash FROM bits
    """


@query("simhash_fingerprint", oracle=_simhash_oracle(), tags=("dedup", "extension"))
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 60-bit near-dup fingerprint. Token hashes come from
    md5 (identical across engines) truncated to 60 bits; per-bit ±1
    votes are summed per document and the sign vector re-packed into a
    bigint. One explode + one groupBy — narrow, scale-safe. Near-dup
    candidates at scale = fingerprints within small hamming distance
    (bucketed by rotated prefixes)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens())).alias("tok"),
    )
    h = toks.select(
        "doc_id",
        md5_int("tok", 15).cast("long").alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(_SIMHASH_BITS)
    ]
    bits = h.groupBy("doc_id").agg(*bit_sums)
    combine = F.expr(
        " + ".join(
            f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
            for b in range(_SIMHASH_BITS)
        )
    )
    return bits.select("doc_id", combine.alias("simhash"))


# X2f — oracle-exact MinHash banding (explicit hash family) --------------
#: Mersenne prime 2^31-1; shingle hash is 28 bits (7 hex digits of
#: md5), coefficients < P, so a*h+b < 2^60 — no 64-bit overflow in
#: either engine.
_MH_P = 2147483647
_MH_K = 16  # signature length
_MH_R = 4  # rows per band
_MH_BANDS = _MH_K // _MH_R


def _mh_coeffs() -> list[tuple[int, int]]:
    """Seeded affine hash family h_i(x) = (a_i·x + b_i) mod P — baked
    identically into the Spark plan and the DuckDB oracle."""
    rng = random.Random(7)
    return [
        (rng.randrange(1, _MH_P), rng.randrange(0, _MH_P))
        for _ in range(_MH_K)
    ]


def _mh_sig_of(t: DataFrame) -> DataFrame:
    """Signature aggregation over a ``(doc_id, sh)`` shingle frame —
    the one statement of the MinHash arithmetic, shared by the live
    path and the persisted-artifact path so they cannot drift."""
    coeffs = _mh_coeffs()
    e = t.select("doc_id", F.explode("sh").alias("shingle"))
    h = md5_int("shingle", 7).cast("long")
    return e.groupBy("doc_id").agg(
        *[
            F.min((h * a + b) % _MH_P).cast("long").alias(f"m{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )


def _mh_sig(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m{K-1}) MinHash signatures — ONE definition shared
    by the all-pairs banding query and the incremental screen, so the
    standing-corpus index and a live batch can never drift apart.
    Takes an arbitrary frame (full corpus OR a live batch), so it
    shingles via :func:`_with_shingles` directly — the corpus-level
    parquet index is for sf_dir-scoped consumers only."""
    return _mh_sig_of(_with_shingles(docs, 3))


def _mh_sig_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CORPUS MinHash signature index ``(doc_id, m0..m{K-1})`` as a
    parquet artifact per (session, corpus) — the signature sibling of
    :func:`shingle_index`, for the sf_dir-scoped full-corpus consumers
    (banding pairs, calibration report, and through them the estimate
    filter and the verified pipeline).

    Why (r11, measured): each of those bench queries replayed the
    shingle+hash+min pipeline — 8.5 s of executor CPU per run at
    sf0.1, twice per query (the bands self-join and the sa/sb estimate
    joins sit on distinct subtrees) — hidden locally by 32-way
    parallelism but real cost on a saturated cluster. The builder
    consumes the persisted shingle artifact, so a cold build pays only
    the hash/min aggregation; the signature table itself is narrow
    scalar rows (doc_id + {_MH_K} longs). At 100 TB this is the
    signature index a dedup pipeline writes at ingest."""
    return _persisted_doc_artifact(
        spark,
        sf_dir,
        "minhash_sig_index",
        lambda: _mh_sig_of(
            shingle_index(spark, sf_dir).select("doc_id", "sh")
        ),
    )


def _mh_bands_of_sig(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band index rows of a signature frame —
    the persisted-artifact schema of the incremental screen."""
    band_keys = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{j * _MH_R + k}").cast("string")
                    for k in range(_MH_R)
                ],
            )
        )
        for j in range(_MH_BANDS)
    ]
    return sig.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "bkey")
    )


def _mh_band_cte() -> str:
    """CTE chain through ``p`` (the DISTINCT banded candidate pairs) —
    shared by the banding oracle and the composed verified-pipeline
    oracle so both state the identical candidate set."""
    coeffs = _mh_coeffs()
    mins = ",\n             ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MH_P}) AS BIGINT) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_cases = "\n             ".join(
        f"WHEN {j} THEN md5("
        + " || ',' || ".join(
            f"CAST(m{j * _MH_R + k} AS VARCHAR)" for k in range(_MH_R)
        )
        + ")"
        for j in range(_MH_BANDS)
    )
    bands_values = ", ".join(f"({j})" for j in range(_MH_BANDS))
    return f"""
    WITH t AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
    hh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS h
      FROM e
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, v.j AS band,
             CASE v.j
             {band_cases}
             END AS bkey
      FROM sig, (VALUES {bands_values}) AS v(j)
    ),
    p AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(_MH_K)
    )
    return f"""
    {_mh_band_cte()}
    SELECT doc_a, doc_b,
           CAST({agree} AS DOUBLE) / {_MH_K} AS est_jaccard
    FROM p
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    """


@query(
    "minhash_band_pairs",
    oracle=_minhash_oracle(),
    tags=("dedup", "extension", "lsh"),
)
def minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2f: MinHash-LSH with an EXPLICIT seeded hash family — unlike
    the MLlib variant (rows-only check), every stage here is plain
    arithmetic both engines evaluate identically, so the full LSH
    banding pipeline is oracle-checked bit-exactly: 16-component
    signature (min of affine hashes over 28-bit shingle digests), 4
    bands of 4 rows hashed to band keys, candidate pairs from the band
    equi-join, and the signature-agreement Jaccard estimate (n/16 is
    exact in binary — no rounding needed).

    Scale shape is the canonical one: signatures are one groupBy over
    exploded shingles (map-side partial mins), banding is a narrow map,
    candidates ∝ band collisions, and the estimate join touches only
    candidate pairs."""
    # r11: signatures come from the persisted per-(session, corpus)
    # artifact — see _mh_sig_index for the measured duplicate-CPU cost
    # this removes.
    sig = _mh_sig_index(spark, sf_dir)
    bands = _mh_bands_of_sig(sig)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.m{i}") == F.col(f"sb.m{i}"), 1).otherwise(0)
        for i in range(_MH_K)
    )
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / _MH_K).alias("est_jaccard"),
        )
    )


# X2 — MinHash near-dedup, estimate-filtered (the scale form) -----------
@query(
    "near_dedup_minhash",
    oracle=f"""
    SELECT doc_a, doc_b, est_jaccard FROM (
      {_minhash_oracle()}
    ) q WHERE est_jaccard >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "extension", "lsh"),
)
def near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (scale form): near-dup pairs decided on the SIGNATURE
    ESTIMATE alone — banded candidates whose 16-component agreement
    fraction clears the Jaccard threshold, no exact-verify pass. This
    is the cheapest rung of the dedup ladder (at 100 TB you run this
    when fetching shingle arrays for the verify join is the budget
    item); ``near_dedup_lsh_verified`` is the verified rung with
    identical candidates. Since r8 this uses the explicit seeded
    affine family (``minhash_band_pairs``), so the whole pipeline is
    oracle-exact — agreement/16 is exact binary arithmetic and the
    0.6 threshold sits between representable multiples of 1/16, so
    the filter has no float boundary. The MLlib variant remains as
    the unregistered library path ``near_dedup_minhash_mllib``."""
    return minhash_band_pairs(spark, sf_dir).filter(
        F.col("est_jaccard") >= JACCARD_THRESHOLD
    )


def _mh_bands_cte_for(name: str, pred: str) -> str:
    """CTE chain ``{name}_t .. {name}_bands`` — the `_mh_band_cte`
    banding arithmetic, parameterized by a source predicate and
    name-prefixed so the incremental oracle can state corpus and batch
    bands side by side from ONE definition."""
    marker = "FROM documents\n      WHERE"
    assert marker in _SHINGLES_SQL
    shingles = _SHINGLES_SQL.replace(
        marker, f"FROM documents\n      WHERE ({pred}) AND"
    )
    coeffs = _mh_coeffs()
    mins = ",\n             ".join(
        f"CAST(MIN((h * {a} + {b}) % {_MH_P}) AS BIGINT) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_cases = "\n             ".join(
        f"WHEN {j} THEN md5("
        + " || ',' || ".join(
            f"CAST(m{j * _MH_R + k} AS VARCHAR)" for k in range(_MH_R)
        )
        + ")"
        for j in range(_MH_BANDS)
    )
    bands_values = ", ".join(f"({j})" for j in range(_MH_BANDS))
    return f"""
    {name}_t AS ({shingles}),
    {name}_e AS (SELECT doc_id, unnest(sh) AS shingle FROM {name}_t),
    {name}_hh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS h
      FROM {name}_e
    ),
    {name}_sig AS (
      SELECT doc_id,
             {mins}
      FROM {name}_hh GROUP BY doc_id
    ),
    {name}_bands AS (
      SELECT doc_id, v.j AS band,
             CASE v.j
             {band_cases}
             END AS bkey
      FROM {name}_sig, (VALUES {bands_values}) AS v(j)
    )"""


#: Shared by the batch screen and its streaming twin
#: (``streaming_neardup_screen``) — one statement of the semantics.
INCR_MH_ORACLE = f"""
    WITH {_mh_bands_cte_for("corpus", "source = 'src0'")},
    {_mh_bands_cte_for("batch", "source <> 'src0'")},
    cand AS (
      SELECT b.doc_id,
             COUNT(DISTINCT c.doc_id) AS n_corpus_candidates
      FROM batch_bands b
      JOIN corpus_bands c ON b.band = c.band AND b.bkey = c.bkey
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.n_corpus_candidates, 0) AS BIGINT)
             AS n_corpus_candidates,
           COALESCE(c.n_corpus_candidates, 0) > 0 AS is_near_dup_of_corpus
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
    LEFT JOIN cand c ON c.doc_id = d.doc_id
    """



# X2c' — the composed 100 TB dedup: LSH candidates → exact verify -------
@query(
    "near_dedup_lsh_verified",
    oracle=f"""
    {_mh_band_cte()}
    SELECT p.doc_a, p.doc_b,
           CAST(ROUND(CAST(
             CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
             / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS jaccard
    FROM p
    JOIN t ta ON ta.doc_id = p.doc_a
    JOIN t tb ON tb.doc_id = p.doc_b
    WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
          / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
          >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "extension", "lsh"),
)
def near_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline composed end-to-end: MinHash-LSH
    banding generates candidate pairs (~linear in collisions), then the
    EXACT 3-gram Jaccard verify runs on candidates only — never
    all-pairs. This is the shape that actually ships at 100 TB; the
    all-pairs ``near_dedup_ngram_jaccard`` is its ground truth (recall
    bounded in tests/test_sketches.py).

    Candidates come from the EXPLICIT seeded banding family
    (``minhash_band_pairs``), so since round 3 the WHOLE composed
    pipeline — signatures, bands, candidate join, exact verify — is
    oracle-checked bit-exactly. (The MLlib variant remains as
    ``near_dedup_minhash``, rows-only, as the library-integration
    path.)"""
    cand = minhash_band_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents")
    t = shingle_index(spark, sf_dir).select("doc_id", "sh")
    sized = t.select("doc_id", F.size("sh").alias("n"), "sh")
    a = sized.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("na"),
        F.col("sh").alias("sh_a"),
    )
    b = sized.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("nb"),
        F.col("sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)  # same boundary as the exact query
        .select(
            "doc_a",
            "doc_b",
            exact_round(jac, 4).alias("jaccard"),
        )
    )


# SimHash candidate retrieval: hamming-band bucketed pair join -----------
#: 60 bits split into 6 bands of 10 bits. Pigeonhole: two fingerprints
#: within hamming distance d < #bands agree on at least one whole band,
#: so an equi-join on (band_idx, band_value) finds every pair with
#: d <= _SIMHASH_MAX_HAMMING and no all-pairs scan. At larger corpora
#: widen bands (w ≳ log2(n_docs) keeps random collisions rare) and/or
#: add rotated re-hashes; the join shape is unchanged.
_SIMHASH_BANDS = 6
_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS
_SIMHASH_MAX_HAMMING = _SIMHASH_BANDS - 1


def _simhash_pairs_oracle() -> str:
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    bands_values = ", ".join(f"({b})" for b in range(_SIMHASH_BANDS))
    return f"""
    WITH fp AS ({_simhash_oracle()}),
    bands AS (
      SELECT doc_id, simhash, band,
             (simhash >> (band * {_SIMHASH_BAND_BITS})) & {mask} AS bv
      FROM fp, (VALUES {bands_values}) AS t(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bv = b.bv
                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {_SIMHASH_MAX_HAMMING}
    """


@query(
    "simhash_near_dup_pairs",
    oracle=_simhash_pairs_oracle(),
    tags=("dedup", "extension", "lsh"),
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate retrieval — the reason simhash exists: find
    all pairs of documents whose 60-bit fingerprints are within hamming
    distance {d}. Each fingerprint is exploded into {B} (band_idx,
    band_value) keys; candidates come from an equi-join on the band key
    (by pigeonhole, any pair with d < {B} shares a full band), then the
    exact ``bit_count(a ^ b)`` filter verifies. Candidate volume scales
    with band collisions, never n² — the same banding argument as
    MinHash-LSH, on a 64-bit integer instead of a signature matrix."""
    fp = simhash_fingerprint(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(b) for b in range(_SIMHASH_BANDS)])
        ).alias("band"),
    ).withColumn(
        "bv",
        F.expr(
            f"(simhash >> (band * {_SIMHASH_BAND_BITS}))"
            f" & {(1 << _SIMHASH_BAND_BITS) - 1}"
        ),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(ha ^ hb)")
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# Embedding cosine near-dup ----------------------------------------------
def _emb_pairs_oracle() -> str:
    from .similarity import _lsh_keys_sql

    return f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    {_lsh_keys_sql()}
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({cosine_oracle_sql('a.v', 'b.v')}, 4) AS cos_sim
    FROM keys a JOIN keys b
      ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ROUND({cosine_oracle_sql('a.v', 'b.v')}, 4) >= {COSINE_THRESHOLD}
    """


@query(
    "near_dup_embedding",
    oracle=_emb_pairs_oracle(),
    tags=("dedup", "similarity", "extension"),
)
def near_dup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with REAL LSH blocking: candidate
    pairs share a random-hyperplane sign bucket in at least one of the
    size-adaptive hash tables (the same seeded planes and p/L-from-n
    rule as ``similarity_topk_lsh``, baked into both engines — so even
    the approximation is oracle-checked exactly), then exact cosine ≥
    threshold via higher-order functions, no UDF. Pair count scales
    with bucket collisions, not n²; plane count grows with the corpus
    so occupancy stays bounded, and the extra hash tables keep recall
    up — the same join shape at every size. Threshold applied on the
    4-dp-rounded value so Spark and the oracle agree at the boundary."""
    from .similarity import _lsh_keys_df

    keys = _lsh_keys_df(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
    )
    a, b = keys.alias("a"), keys.alias("b")
    sim = F.round(cosine(F.col("a.v"), F.col("b.v")), 4)
    # Score before dedup: the multi-table union then distincts on three
    # scalars instead of shuffling vector payloads.
    return (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cos_sim"),
        )
        .distinct()
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


# X91 — semantic dedup (SemDeDup-style, cell-bounded) --------------------
#: within-cell cosine at or above this (4 dp) marks a semantic dup.
SEM_DUP_THRESHOLD = 0.35


def _semantic_dedup_oracle() -> str:
    from .similarity import _trained_cents_sql, cosine_oracle_sql

    return f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    {_trained_cents_sql()},
    assign AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT d.vec_id, d.v, cents.cent_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND({cosine_oracle_sql('d.v', 'cents.cv')}, 6)
                            DESC, cents.cent_id) AS arn
        FROM d CROSS JOIN cents
      ) WHERE arn = 1
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE ROUND({cosine_oracle_sql('a.v', 'b.v')}, 4)
              >= {SEM_DUP_THRESHOLD}
    )
    SELECT s.vec_id, s.cent_id, (dup.vec_id IS NULL) AS keep
    FROM assign s LEFT JOIN dups dup ON s.vec_id = dup.vec_id
    """


@query(
    "semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    tags=("dedup", "similarity", "extension", "clustering"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91: SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public paper) — the embedding-space complement to the lexical dedup
    family. Every vector is assigned to its trained k-means cell
    (``embedding_kmeans_assign``'s codebook); cosine pairs are formed
    ONLY within a cell; a vector is dropped when a same-cell neighbor
    with a smaller vec_id is ≥ ``SEM_DUP_THRESHOLD`` similar
    (deterministic, non-cascading keep-first policy). Output labels the
    whole corpus: (vec_id, cent_id, keep).

    Scale shape: the quadratic step is confined to cells — pair
    generation is an equi-join on cent_id (plan-asserted: no cartesian
    product, tests/test_plan_shapes.py), so cost is Σ|cell|², bounded
    by cell granularity (grow k with the corpus to hold |cell| roughly
    constant — the SemDeDup recipe). The codebook is a broadcast; the
    drop set joins back hash-only (vec_ids, never vectors). The pair
    loop computes ONE dot per pair: each vector's norm is factored out
    into the assignment frame (sqrt(dot(v,v)) has one bit pattern
    however often you compute it, so the rounded cosine is IEEE-
    identical to the oracle's inline form — the _assign_nearest
    convention), tripling pair throughput at 10×-dense cells."""
    from ..functions.vectors import dot
    from .similarity import assigned_corpus

    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # the persisted semantic-index artifacts (codebook + per-vector
    # cell assignment with factored norms), memoized per session/input
    assign = assigned_corpus(d)
    # explicit cent_id partitioning for the self-join: the pair stage
    # FANS OUT (Σ|cell|² rows from |corpus| input), which AQE's
    # input-byte heuristic under-parallelizes (measured: 11 of 32
    # cores at 10×); a user repartition is respected, and both join
    # legs reuse the one exchange
    pairs_in = assign.repartition(
        spark.sparkContext.defaultParallelism, "cent_id"
    )
    a, b = pairs_in.alias("a"), pairs_in.alias("b")
    pair_cos = dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.nv") * F.col("b.nv")
    )
    dups = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(pair_cos, 4) >= SEM_DUP_THRESHOLD)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return assign.join(
        dups.withColumn("__dup", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id", "cent_id", F.col("__dup").isNull().alias("keep")
    )


# X100 — incremental semantic screening of a new ingest batch ------------
#: every NEW_MOD-th vector plays the "newly ingested batch" role.
SEM_NEW_MOD = 10


def _sem_assign_sql(src: str) -> str:
    """Nearest-cell assignment subquery for a (vec_id, v) CTE ``src``
    against the trained ``cents`` — shared by the semantic screen and
    the composed ingest admission report."""
    from .similarity import cosine_oracle_sql

    cos = cosine_oracle_sql(f"{src}.v", "cents.cv")
    return f"""(
      SELECT vec_id, v, cent_id FROM (
        SELECT {src}.vec_id, {src}.v, cents.cent_id,
               row_number() OVER (
                 PARTITION BY {src}.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, cents.cent_id) AS arn
        FROM {src} CROSS JOIN cents
      ) WHERE arn = 1
    )"""


def _incremental_semantic_oracle() -> str:
    from .similarity import _trained_cents_sql, cosine_oracle_sql

    assign = _sem_assign_sql

    return f"""
    WITH all_v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    d AS (SELECT * FROM all_v WHERE vec_id % {SEM_NEW_MOD} <> 0),
    batch AS (SELECT * FROM all_v WHERE vec_id % {SEM_NEW_MOD} = 0),
    {_trained_cents_sql()},
    ac AS {assign('d')},
    ab AS {assign('batch')},
    dup AS (
      SELECT DISTINCT b.vec_id
      FROM ab b JOIN ac c ON b.cent_id = c.cent_id
      WHERE ROUND({cosine_oracle_sql('b.v', 'c.v')}, 4)
              >= {SEM_DUP_THRESHOLD}
    )
    SELECT ab.vec_id, ab.cent_id, (dup.vec_id IS NOT NULL) AS is_dup
    FROM ab LEFT JOIN dup ON ab.vec_id = dup.vec_id
    """


@query(
    "incremental_semantic_update",
    oracle=_incremental_semantic_oracle(),
    tags=("dedup", "similarity", "incremental", "extension"),
)
def incremental_semantic_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X100: the embedding-space twin of ``incremental_corpus_update`` —
    screen a NEWLY INGESTED batch of vectors against the standing
    corpus's semantic index: assign each batch vector to its k-means
    cell (codebook trained on the CORPUS only — the persisted artifact
    an operational pipeline reuses), then check it against the
    incumbents of that cell alone. Output labels every batch vector
    (vec_id, cent_id, is_dup).

    This is the operational shape at 100 TB: the corpus is never
    rescanned per ingest — only its (persisted) codebook and cell
    membership are touched, and the batch×incumbent comparison is
    cell-bounded exactly like ``semantic_dedup``. Plan: broadcast
    codebook assignments on both sides, one cent_id equi-join carrying
    vectors only for the candidate cells' members."""
    from .similarity import _assign_nearest, _trained_cents

    all_v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    corpus = all_v.filter(F.col("vec_id") % SEM_NEW_MOD != 0)
    batch = all_v.filter(F.col("vec_id") % SEM_NEW_MOD == 0)
    cents = _trained_cents(corpus)
    ac = _assign_nearest(corpus, cents).localCheckpoint(eager=True)
    ab = _assign_nearest(batch, cents).localCheckpoint(eager=True)
    dup = (
        ab.alias("b")
        .join(ac.alias("c"), F.col("b.cent_id") == F.col("c.cent_id"))
        .filter(
            F.round(cosine(F.col("b.v"), F.col("c.v")), 4)
            >= SEM_DUP_THRESHOLD
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return ab.join(
        dup.withColumn("__dup", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id", "cent_id", F.col("__dup").isNotNull().alias("is_dup")
    )


# X101 — cross-family dedup audit report ---------------------------------
def _dedup_audit_oracle() -> str:
    from .corpus import _chunks_sql
    from ..registry import all_queries

    ng = all_queries()["near_dedup_ngram_jaccard"].oracle
    sh = all_queries()["simhash_near_dup_pairs"].oracle

    def pair_block(cte: str, family: str) -> str:
        return f"""
    SELECT '{family}' AS family, CAST(COUNT(*) AS BIGINT) AS n_units,
      (SELECT CAST(COUNT(DISTINCT d) AS BIGINT)
       FROM (SELECT doc_a AS d FROM {cte} UNION SELECT doc_b FROM {cte}))
        AS n_docs
    FROM {cte}"""

    return f"""
    WITH ng AS ({ng}), sh AS ({sh}),
    ex AS (
      SELECT md5(text) AS h, COUNT(*) AS n FROM documents
      GROUP BY h HAVING COUNT(*) >= 2
    ),
    chd AS ({_chunks_sql("documents")}),
    duph AS (
      SELECT h FROM chd GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT 'exact' AS family, CAST(COUNT(*) AS BIGINT) AS n_units,
           CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_docs
    FROM ex
    UNION ALL
    SELECT 'chunk', CAST(COUNT(*) AS BIGINT),
      (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM chd
       WHERE h IN (SELECT h FROM duph))
    FROM duph
    UNION ALL {pair_block('ng', 'ngram_jaccard')}
    UNION ALL {pair_block('sh', 'simhash')}
    """


@query(
    "dedup_audit_report",
    oracle=_dedup_audit_oracle(),
    tags=("dedup", "audit", "extension"),
)
def dedup_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X101: the dedup families side by side in ONE audit frame — per
    family (exact full-text, sub-document chunk, n-gram Jaccard pairs,
    simhash hamming pairs): how many duplicate units it finds and how
    many documents are affected. The report a curation team reads to
    decide WHICH dedup passes to run at what cost (exact is nearly
    free; pair-generating passes cost candidate joins) — and the
    oracle EMBEDS the registered family oracles, so the audit can
    never drift from the operators it audits (the
    ``curation_funnel_stats`` discipline applied to dedup).

    Scale shape: each family contributes two scalar aggregates over
    its existing (already scale-shaped) pipeline; the four rows union.
    No new join shapes are introduced."""
    from .corpus import _chunk_hashes

    docs = load_table(spark, sf_dir, "documents")

    def pair_stats(df: DataFrame, family: str) -> DataFrame:
        # ONE aggregation pass over the (expensive) pair pipeline:
        # exploding both endpoints yields exactly 2 rows per pair, so
        # n_units = count/2 and n_docs = countDistinct in the same agg
        # — the r4 shape re-evaluated the candidate joins ~3x (ADVICE).
        return (
            df.select(F.explode(F.array("doc_a", "doc_b")).alias("d"))
            .agg(
                (F.count(F.lit(1)) / 2).cast("bigint").alias("n_units"),
                F.countDistinct("d").cast("bigint").alias("n_docs"),
            )
            .select(F.lit(family).alias("family"), "n_units", "n_docs")
        )

    ex = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    exact_row = ex.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_docs"),
    ).select(F.lit("exact").alias("family"), "n_units", "n_docs")

    chd = docs.select("doc_id", F.explode(_chunk_hashes(tokens())).alias("h"))
    duph = (
        chd.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    chunk_units = duph.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units")
    )
    chunk_docs = (
        chd.join(duph, "h", "left_semi")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    )
    chunk_row = chunk_units.crossJoin(F.broadcast(chunk_docs)).select(
        F.lit("chunk").alias("family"), "n_units", "n_docs"
    )

    ng_row = pair_stats(
        near_dedup_ngram_jaccard(spark, sf_dir), "ngram_jaccard"
    )
    sh_row = pair_stats(simhash_near_dup_pairs(spark, sf_dir), "simhash")
    return exact_row.unionAll(chunk_row).unionAll(ng_row).unionAll(sh_row)


# X106 — exact-substring dedup (suffix-array family) ----------------------
SUBSTR_K = 6          # anchor k-gram width (tokens)
SUBSTR_MIN_RUN = 12   # report shared runs of at least this many tokens
SUBSTR_MAX_DF = 50    # drop anchor grams seen in more docs (boilerplate)


def _substr_runs_sql() -> str:
    """CTE chain through ``qruns`` (qualifying shared runs with their
    start offset in doc_a) — shared by the pair report and the rewrite
    oracle so both state the identical run set."""
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             md5(array_to_string(t[(i+1):(i+{SUBSTR_K})], ' ')) AS h
      FROM toks, UNNEST(range(0, len(t) - {SUBSTR_K} + 1)) AS u(i)
    ),
    hot AS (
      SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY h
      ) WHERE nd > {SUBSTR_MAX_DF}
    ),
    g AS (SELECT * FROM grams ANTI JOIN hot USING (h)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.i AS ia, a.i - b.i AS diag
      FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, diag, island,
             MIN(ia) AS start_a,
             COUNT(*) + {SUBSTR_K} - 1 AS run_tokens
      FROM (
        SELECT doc_a, doc_b, diag, ia,
               ia - row_number() OVER (
                 PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS island
        FROM m
      )
      GROUP BY doc_a, doc_b, diag, island
    ),
    qruns AS (SELECT * FROM runs WHERE run_tokens >= {SUBSTR_MIN_RUN})"""


@query(
    "substring_dedup",
    oracle=_substr_runs_sql()
    + """
    SELECT doc_a, doc_b,
           CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_runs
    FROM qruns
    GROUP BY doc_a, doc_b
    """,
    tags=("dedup", "corpus", "extension"),
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: EXACT-SUBSTRING dedup, the suffix-array family (Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    for every document pair, the length of the longest run of
    ≥ ``SUBSTR_MIN_RUN`` consecutive tokens they share verbatim, at ANY
    token offset — the duplication ``chunk_dedup``'s fixed 8-word grid
    misses whenever a copy is not grid-aligned.

    Spark-first shape instead of an actual suffix array (which is a
    single-machine structure): anchor ``SUBSTR_K``-gram hashes at EVERY
    token offset (narrow transform), inverted-index equi-join on the
    anchor hash (never all-pairs), then the diagonal trick — a shared
    run of length L contributes L-K+1 matches with constant offset
    difference ``ia - ib``, so gaps-and-islands per (pair, diagonal)
    recovers exact run lengths from candidate matches only.

    Scale shape: every exchange carries (doc_id, int offset, 16-byte
    hash) — never text. Anchor grams seen in > ``SUBSTR_MAX_DF``
    documents are dropped first (declared semantics, mirrored by the
    oracle): boilerplate anchors are what would otherwise quadratically
    blow up the candidate join at 100 TB — same discipline as LSH band
    caps. The islands window partitions by (doc_a, doc_b, diag), which
    is candidate-bounded, never corpus-global."""
    runs = _substr_runs(spark, sf_dir)
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("run_tokens").cast("bigint").alias("max_run_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
    )


def _gram_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, i, h): the anchor ``SUBSTR_K``-gram hash at every token
    offset of every document — one narrow transform+explode, shared by
    the batch substring family and the incremental screen."""
    toks = F.col("__toks")
    n_grams = F.size(toks) - SUBSTR_K + 1
    # r11: the former .filter(size >= K) was pushed below the callers'
    # spread exchange with the tokenization substituted into the
    # predicate, single-tasking the heavy work (see
    # _winnow_grams_frame); short docs now yield an empty gram array
    # that the explode drops — identical rows out.
    gram_structs = F.when(
        F.size(toks) >= SUBSTR_K,
        F.transform(
            F.sequence(F.lit(0), n_grams - 1),
            lambda i: F.struct(
                i.cast("bigint").alias("i"),
                F.md5(
                    F.array_join(F.slice(toks, i + 1, SUBSTR_K), " ")
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:bigint,h:string>>"))
    return (
        docs.select("doc_id", tokens().alias("__toks"))
        .select("doc_id", F.explode(gram_structs).alias("g"))
        .select("doc_id", "g.i", "g.h")
    )


def _substr_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, diag, start_a, run_tokens): qualifying shared
    runs — the Spark twin of ``_substr_runs_sql``, shared by the pair
    report and the rewrite."""
    docs = load_table(spark, sf_dir, "documents")
    # PERSISTED gram-index artifact (VERDICT r9 task 1 — the same
    # parquet conversion that fixed winnowing and prefix-filter heap
    # residency in r9): the (doc_id, i, h) index is ~grams-per-token ×
    # corpus rows, multi-GB at ×100, and a heap localCheckpoint of it
    # inflated GC pressure for every neighboring query in the probe
    # session. Written once per (session, corpus) and read back as a
    # disk-backed columnar table, it is shared by BOTH substring
    # consumers (X106 pair report, X107 rewrite) — the winnowing
    # X205/X239 contract: ingest builds the index, reports read it.
    grams = _persisted_doc_artifact(
        spark,
        sf_dir,
        "substr_gram_index",
        lambda: _gram_frame(
            docs.repartition(spark.sparkContext.defaultParallelism)
        ),
    )
    hot = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > SUBSTR_MAX_DF)
        .select("h")
    )
    g = grams.join(hot, "h", "left_anti")
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("i").alias("ia"), "h")
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("i").alias("ib"), "h")
    m = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "ia", (F.col("ia") - F.col("ib")).alias("diag")
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    return (
        m.withColumn("island", F.col("ia") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("ia").alias("start_a"),
            (F.count(F.lit(1)) + SUBSTR_K - 1).alias("run_tokens"),
        )
        .filter(F.col("run_tokens") >= SUBSTR_MIN_RUN)
        .drop("island")
    )


# X108 — incremental MinHash screen (near-dup leg of the incremental trio)
@query(
    "incremental_minhash_update",
    oracle=INCR_MH_ORACLE,
    tags=("dedup", "incremental", "extension", "lsh"),
)
def incremental_minhash_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108: the NEAR-DUP leg of the incremental trio (chunk:
    ``incremental_corpus_update``; semantic:
    ``incremental_semantic_update``): screen a new ingest batch against
    the standing corpus's PERSISTED MinHash band index without touching
    corpus text. src0 plays the standing corpus; its (doc_id, band,
    bkey) index is materialized once to parquet — the operational
    artifact, only ever appended to — and the screening query reads
    ONLY that index plus the batch: the plan contains zero corpus
    scans (asserted in tests/test_plan_shapes.py).

    Output per batch doc: how many corpus documents share at least one
    LSH band bucket with it (the candidate set an exact-verify stage
    would then check — near_dedup_lsh_verified's composition), and the
    resulting near-dup flag.

    Scale shape: the index is V·BANDS rows of (id, tinyint, 16-byte
    key); the screen is one hash-only equi-join on (band, bkey) + a
    per-batch-doc count — per-ingest cost ∝ batch size and collision
    count, never corpus size."""
    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("source") != "src0"
    )
    cand = (
        _mh_bands_of_sig(_mh_sig(batch))
        .join(_corpus_band_index(spark, sf_dir), ["band", "bkey"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("corpus_doc")
            .cast("bigint")
            .alias("n_corpus_candidates")
        )
    )
    n = F.coalesce("n_corpus_candidates", F.lit(0)).cast("bigint")
    return (
        batch.select("doc_id")
        .join(cand, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_corpus_candidates"),
            (n > 0).alias("is_near_dup_of_corpus"),
        )
    )


def _corpus_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(corpus_doc, band, bkey)``: the standing corpus's (src0)
    persisted MinHash band index, shared by the batch and streaming
    near-dup screens."""
    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("source") == "src0"
    )
    return _persisted_doc_artifact(
        spark,
        sf_dir,
        "incr_mh_index",
        lambda: _mh_bands_of_sig(_mh_sig(corpus)),
    ).withColumnRenamed("doc_id", "corpus_doc")


# X107 — exact-substring dedup REWRITE (cut the duplicated spans) --------
@query(
    "substring_dedup_rewrite",
    oracle=_substr_runs_sql()
    + """,
    spans AS (
      SELECT doc_b AS doc_id, start_a - diag AS s, run_tokens AS l
      FROM qruns
    ),
    pos AS (
      SELECT DISTINCT doc_id, CAST(u.p AS BIGINT) AS p
      FROM spans, UNNEST(range(s, s + l)) AS u(p)
    ),
    kept AS (
      SELECT t2.doc_id, u.i AS i, t2.t[u.i] AS tok
      FROM toks t2, UNNEST(range(1, len(t2.t) + 1)) AS u(i)
      WHERE NOT EXISTS (
        SELECT 1 FROM pos
        WHERE pos.doc_id = t2.doc_id AND pos.p = u.i - 1
      )
    ),
    rebuilt AS (
      SELECT doc_id,
             COUNT(*) AS n_kept,
             array_to_string(list(tok ORDER BY i), ' ') AS text_rewritten
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_tokens_removed,
           COALESCE(r.text_rewritten, '') AS text_rewritten
    FROM documents d
    JOIN toks t ON t.doc_id = d.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    """,
    tags=("dedup", "corpus", "extension"),
)
def substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: the TRANSFORM counterpart of ``substring_dedup`` — Lee et
    al. don't just report shared substrings, they CUT them: every
    qualifying shared run is removed from the higher-doc_id document
    (keep-first, matching ``exact_dedup``'s policy; the lower doc keeps
    its text intact), emitting the rewritten corpus plus per-doc
    removal counts. Overlapping spans from different partners union
    before cutting, so a token is removed once no matter how many pairs
    cover it.

    Scale shape (the ``chunk_dedup_rewrite`` discipline): the run
    pipeline exchanges (ids, int offsets, 16-byte hashes); the removal
    mask is a per-doc int list whose total size is the corpus's
    duplicated-token volume; reconstruction joins the mask back by
    doc_id and applies a narrow positional array filter — document text
    is read exactly once at the scan and never shuffles (the mask join
    is AQE's call)."""
    runs = _substr_runs(spark, sf_dir)
    spans = runs.select(
        F.col("doc_b").alias("doc_id"),
        (F.col("start_a") - F.col("diag")).alias("s"),
        F.col("run_tokens").alias("l"),
    )
    mask = (
        spans.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.col("l") - 1)
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("drop_pos"))
    )
    # Materialize the mask as a parquet artifact and read it back: the
    # run pipeline's self-join wrecks the optimizer's size estimate
    # (cross-product bound, ~300 MiB for a KiB-sized mask), which
    # would force a sort-merge join that SHUFFLES TEXT. The re-read
    # carries real file statistics, so a small mask broadcasts onto
    # the raw doc scan and a corpus-heavy dedup falls back to the
    # doc_id hash join — statistics-driven either way. (This is also
    # the operational artifact: a deployment persists the cut plan
    # before rewriting in place.)
    mask = _persisted_doc_artifact(
        spark, sf_dir, "substr_rewrite_mask", lambda: mask
    )
    docs = load_table(spark, sf_dir, "documents")
    # join RAW docs first, tokenize AFTER (the chunk_dedup_rewrite
    # discipline): the reconstruction is then a narrow array program
    # on the preserved side of the join.
    t = tokens()
    kept = F.when(
        F.col("drop_pos").isNull(), t
    ).otherwise(
        F.filter(
            t,
            lambda x, i: ~F.array_contains(
                F.col("drop_pos"), i.cast("bigint")
            ),
        )
    )
    return (
        docs.select("doc_id", "text")
        .join(mask, "doc_id", "left")
        .select(
            "doc_id",
            F.size(t).cast("bigint").alias("n_tokens"),
            (F.size(t) - F.size(kept)).cast("bigint").alias(
                "n_tokens_removed"
            ),
            F.array_join(kept, " ").alias("text_rewritten"),
        )
    )


def _mh_band_structs() -> F.Column:
    """array<struct<band,bkey>> of the LSH band keys of ``text`` as ONE
    narrow expression — no explode/groupBy, so a STREAMING micro-batch
    can band its documents without a shuffle (the batch path's
    explode + min-agg exists for map-side partial aggregation over the
    shingle index; per-row array folds give bit-identical signatures).
    Documents with < 3 tokens band to an empty array (they have no
    shingles, hence no signature — same as the batch path's filter)."""
    toks = tokens()
    n = 3
    sh_raw = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )
    )
    sh = F.when(F.size(toks) >= n, sh_raw).otherwise(
        F.array().cast("array<string>")
    )
    hs = F.transform(sh, lambda s: md5_int(s, 7).cast("long"))
    sigs = [
        F.array_min(F.transform(hs, lambda h: (h * a + b) % _MH_P)).cast(
            "long"
        )
        for (a, b) in _mh_coeffs()
    ]
    bkeys = [
        F.md5(
            F.concat_ws(
                ",",
                *[sigs[j * _MH_R + k].cast("string") for k in range(_MH_R)],
            )
        )
        for j in range(_MH_BANDS)
    ]
    return F.when(
        F.size(sh) > 0,
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"), bkeys[j].alias("bkey")
                )
                for j in range(_MH_BANDS)
            ]
        ),
    ).otherwise(F.array().cast("array<struct<band:int,bkey:string>>"))


# X121 — composed ingest admission report (all three incremental legs) ---
def _ingest_admission_oracle() -> str:
    from .corpus import _chunks_sql
    from .similarity import _trained_cents_sql, cosine_oracle_sql

    return f"""
    WITH corpus_docs AS (
      SELECT doc_id, text FROM documents WHERE source = 'src0'
    ),
    batch_docs AS (
      SELECT doc_id, text FROM documents WHERE source <> 'src0'
    ),
    corpus_idx AS ({_chunks_sql("corpus_docs")}),
    batch_ch AS ({_chunks_sql("batch_docs")}),
    chunk_dup AS (
      SELECT DISTINCT b.doc_id FROM batch_ch b
      WHERE EXISTS (SELECT 1 FROM corpus_idx c WHERE c.h = b.h)
    ),
    {_mh_bands_cte_for("mcorpus", "source = 'src0'")},
    {_mh_bands_cte_for("mbatch", "source <> 'src0'")},
    mh_dup AS (
      SELECT DISTINCT b.doc_id FROM mbatch_bands b
      JOIN mcorpus_bands c ON b.band = c.band AND b.bkey = c.bkey
    ),
    all_v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS (
      SELECT v.vec_id, v.v FROM all_v v
      JOIN documents doc ON doc.doc_id = v.vec_id
      WHERE doc.source = 'src0'
    ),
    sbatch AS (
      SELECT v.vec_id, v.v FROM all_v v
      JOIN documents doc ON doc.doc_id = v.vec_id
      WHERE doc.source <> 'src0'
    ),
    {_trained_cents_sql()},
    ac AS {_sem_assign_sql('d')},
    ab AS {_sem_assign_sql('sbatch')},
    sem_dup AS (
      SELECT DISTINCT b.vec_id AS doc_id
      FROM ab b JOIN ac c ON b.cent_id = c.cent_id
      WHERE ROUND({cosine_oracle_sql('b.v', 'c.v')}, 4)
              >= {SEM_DUP_THRESHOLD}
    )
    SELECT bd.doc_id,
           (cd.doc_id IS NOT NULL) AS dup_chunk,
           (md.doc_id IS NOT NULL) AS dup_minhash,
           (sd.doc_id IS NOT NULL) AS dup_semantic,
           (cd.doc_id IS NULL AND md.doc_id IS NULL
            AND sd.doc_id IS NULL) AS admit
    FROM (SELECT doc_id FROM documents WHERE source <> 'src0') bd
    LEFT JOIN chunk_dup cd ON cd.doc_id = bd.doc_id
    LEFT JOIN mh_dup md ON md.doc_id = bd.doc_id
    LEFT JOIN sem_dup sd ON sd.doc_id = bd.doc_id
    """


@query(
    "ingest_admission_report",
    oracle=_ingest_admission_oracle(),
    tags=("dedup", "incremental", "curation", "extension"),
)
def ingest_admission_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121: the CAPSTONE of the incremental trio — one admission
    decision per ingest-batch document with the per-family evidence:
    does it hit the standing corpus's chunk index (verbatim reuse),
    its MinHash band index (near-dup), or its semantic cells
    (embedding-space dup)? ``admit`` = clean on all three. This is the
    frame an ingest controller actually writes to its admission log —
    the three screens (incremental_corpus_update /
    incremental_minhash_update / incremental_semantic_update) run as
    ONE composed plan over one batch scan per modality, and the oracle
    embeds their registered fragments so the report cannot drift from
    the operators it composes.

    Scale shape: each leg keeps its own screen's shape (hash-only
    semi-joins; band equi-join; broadcast-codebook + cell-bounded
    pairs); the final assembly is three id-only left joins onto the
    batch id list. Corpus text/vectors are touched only to build the
    per-leg indexes — the artifacts a deployment persists."""
    from .corpus import _chunk_hashes
    from .similarity import _assign_nearest, _trained_cents

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") == "src0")
    batch = docs.filter(F.col("source") != "src0")

    # chunk leg
    corpus_idx = corpus.select(F.explode(_chunk_hashes(tokens())).alias("h")).distinct()
    batch_ch = batch.select("doc_id", F.explode(_chunk_hashes(tokens())).alias("h"))
    chunk_dup = (
        batch_ch.join(corpus_idx, "h", "left_semi").select("doc_id").distinct()
    )

    # minhash leg
    mh_dup = (
        _mh_bands_of_sig(_mh_sig(batch))
        .join(
            _mh_bands_of_sig(_mh_sig(corpus)).withColumnRenamed(
                "doc_id", "corpus_doc"
            ),
            ["band", "bkey"],
        )
        .select("doc_id")
        .distinct()
    )

    # semantic leg
    all_v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    src_of = docs.select(F.col("doc_id").alias("vec_id"), "source")
    corpus_v = all_v.join(
        src_of.filter(F.col("source") == "src0").select("vec_id"), "vec_id"
    )
    batch_v = all_v.join(
        src_of.filter(F.col("source") != "src0").select("vec_id"), "vec_id"
    )
    cents = _trained_cents(corpus_v)
    ac = _assign_nearest(corpus_v, cents).localCheckpoint(eager=True)
    ab = _assign_nearest(batch_v, cents).localCheckpoint(eager=True)
    sem_dup = (
        ab.alias("b")
        .join(ac.alias("c"), F.col("b.cent_id") == F.col("c.cent_id"))
        .filter(
            F.round(cosine(F.col("b.v"), F.col("c.v")), 4)
            >= SEM_DUP_THRESHOLD
        )
        .select(F.col("b.vec_id").alias("doc_id"))
        .distinct()
    )

    flag = lambda df, name: df.withColumn(name, F.lit(True))  # noqa: E731
    out = (
        batch.select("doc_id")
        .join(flag(chunk_dup, "__c"), "doc_id", "left")
        .join(flag(mh_dup, "__m"), "doc_id", "left")
        .join(flag(sem_dup, "__s"), "doc_id", "left")
    )
    c = F.coalesce("__c", F.lit(False))
    m = F.coalesce("__m", F.lit(False))
    sm = F.coalesce("__s", F.lit(False))
    return out.select(
        "doc_id",
        c.alias("dup_chunk"),
        m.alias("dup_minhash"),
        sm.alias("dup_semantic"),
        (~c & ~m & ~sm).alias("admit"),
    )


# X131 — sorted-neighborhood blocking -------------------------------------
#: neighborhood width (rank distance) and verify threshold.
SNM_W = 4
SNM_KEY_TOKENS = 3
#: range-partition fan-out for the distributed rank assignment.
SNM_RANK_PARTS = 8


def _snm_cand(docs: DataFrame, key: F.Column) -> DataFrame:
    """(doc_a, doc_b, rn_a, rn_b) sorted-neighborhood candidate pairs
    for one sort KEY — the pass machinery shared by the single-pass
    query and the multi-pass union. Global ranks WITHOUT a global
    sort-window: repartitionByRange + per-partition row_number + a
    carry of per-partition counts (one row per partition — the
    prefix-sum discipline of functions/windows.py); neighborhood
    pairing is an equi-join on rank blocks so only (doc_id, rank) ints
    shuffle."""
    keyed = docs.select("doc_id", key.alias("key"))
    # localCheckpoint pins the reservoir-sampled range boundaries: the
    # counts branch and the ranked branch below MUST observe identical
    # partition boundaries or the pid->offset carry mis-aligns. Exchange
    # reuse usually guarantees that, but a recompute (reuse disabled,
    # task retry) could re-sample — materializing once removes the race.
    parted = (
        keyed.repartitionByRange(SNM_RANK_PARTS, "key", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    within = F.row_number().over(
        Window.partitionBy("pid").orderBy("key", "doc_id")
    )
    counts = parted.groupBy("pid").count()
    offsets = counts.select(
        "pid",
        F.coalesce(
            F.sum("count").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    ranked = (
        parted.withColumn("wrn", within)
        .join(F.broadcast(offsets), "pid")
        .select(
            "doc_id", (F.col("off") + F.col("wrn")).alias("rn")
        )
    )
    blk = ((F.col("rn") - 1) / SNM_W).cast("long")
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("rn").alias("rn_a"),
        blk.alias("blk"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("rn").alias("rn_b"),
        F.explode(F.array(blk, blk - 1)).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") <= SNM_W)
        )
        .drop("blk")
    )


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH t AS ({_SHINGLES_SQL}),
    k AS (
      SELECT doc_id,
             array_to_string(
               (regexp_extract_all(lower(text), '\\S+'))[1:{SNM_KEY_TOKENS}],
               ' ') AS key
      FROM documents
    ),
    r AS (
      SELECT doc_id, key,
             row_number() OVER (ORDER BY key, doc_id) AS rn
      FROM k
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             b.rn - a.rn AS rank_gap
      FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= {SNM_W}
    ),
    j AS (
      SELECT c.doc_a, c.doc_b, c.rank_gap,
             len(list_intersect(ta.sh, tb.sh)) AS inter,
             len(ta.sh) AS na, len(tb.sh) AS nb
      FROM cand c
      JOIN t ta ON ta.doc_id = c.doc_a
      JOIN t tb ON tb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, CAST(rank_gap AS BIGINT) AS rank_gap,
           CAST(ROUND(CAST(CAST(inter AS DOUBLE) / (na + nb - inter)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS jaccard
    FROM j
    WHERE inter > 0
      AND CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "extension"),
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131: SORTED-NEIGHBORHOOD blocking (Hernández-Stolfo, the
    record-linkage classic) — the THIRD candidate-generation family
    next to hash banding (minhash/simhash) and geometry buckets
    (LSH/IVF cells): sort the corpus by a discriminating key (first
    {SNM_KEY_TOKENS} normalized tokens), slide a width-{SNM_W} window
    down the GLOBAL rank order, verify only pairs inside a window with
    exact 3-gram Jaccard (≥ {JACCARD_THRESHOLD}). Recall is bounded by
    the key choice (a near-dup whose edit hits token 1 sorts far away
    — multi-pass SNM re-runs with rotated keys); candidates are
    exactly n·{SNM_W}, the tightest blocking bound any family here
    offers.

    Scale shape — the global rank WITHOUT a global sort-window:
    ``repartitionByRange(key, doc_id)`` (reservoir-sampled boundaries,
    deterministic result regardless of where boundaries land) + a
    per-partition ``row_number`` + a carry of per-partition COUNTS
    (one row per partition — the prefix-sum discipline of
    functions/windows.py, allowlisted as such). Neighborhood pairing
    is an equi-join on the rank block ``rank div {SNM_W}`` (each right
    row probes its own and the previous block), so the pair join
    shuffles (doc_id, rank) ints only; shingle sets are attached to
    the surviving candidates afterwards with NO broadcast hints (AQE
    decides — candidate list is n·w but per-doc frames are
    corpus-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens()
    key = F.array_join(F.slice(toks, 1, SNM_KEY_TOKENS), " ")
    cand = _snm_cand(docs, key)
    sh = shingle_index(spark, sf_dir).select("doc_id", "sh")
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb")
    )
    j = (
        cand.select(
            "doc_a", "doc_b", (F.col("rn_b") - F.col("rn_a")).alias("rank_gap")
        )
        .join(sa, "doc_a")
        .join(sb, "doc_b")
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    na, nb = F.size("sha"), F.size("shb")
    jac = inter.cast("double") / (na + nb - inter)
    return (
        j.filter((inter > 0) & (jac >= JACCARD_THRESHOLD))
        .select(
            "doc_a",
            "doc_b",
            F.col("rank_gap").cast("bigint").alias("rank_gap"),
            exact_round(jac, 4).alias("jaccard"),
        )
    )


# X135 — MinHash estimator calibration audit -------------------------------
def _mh_calibration_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)"
        for i in range(_MH_K)
    )
    return f"""
    {_mh_band_cte()},
    j AS (
      SELECT p.doc_a, p.doc_b,
             CAST({agree} AS DOUBLE) / {_MH_K} AS est_jaccard,
             len(list_intersect(ta.sh, tb.sh)) AS inter,
             len(ta.sh) AS na, len(tb.sh) AS nb
      FROM p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
      JOIN t ta ON ta.doc_id = p.doc_a
      JOIN t tb ON tb.doc_id = p.doc_b
    ),
    x AS (
      SELECT doc_a, doc_b, est_jaccard,
             CAST(ROUND(CAST(CAST(inter AS DOUBLE) / (na + nb - inter)
                             AS DECIMAL(28,10)), 4) AS DOUBLE)
               AS exact_jaccard
      FROM j
    )
    SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
           CAST(ROUND(CAST(abs(est_jaccard - exact_jaccard)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS abs_err,
           est_jaccard >= {JACCARD_THRESHOLD} AS est_positive,
           exact_jaccard >= {JACCARD_THRESHOLD} AS exact_positive
    FROM x
    """


@query(
    "minhash_calibration_report",
    oracle=_mh_calibration_oracle(),
    tags=("dedup", "audit", "extension", "lsh"),
)
def minhash_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X135: ESTIMATOR CALIBRATION audit for the MinHash family — for
    every banded candidate pair, the signature-agreement Jaccard
    estimate (``minhash_band_pairs``' number) side by side with the
    EXACT 3-gram Jaccard, the absolute error, and the two gate
    verdicts at {JACCARD_THRESHOLD}. The report that justifies (or
    revokes) trusting the estimate without the exact-verify leg —
    ``dedup_audit_report``'s embed-the-registered-fragments discipline
    applied to estimator quality.

    Float discipline: est = n/{_MH_K} is exact binary; exact Jaccard
    rounded 4 dp before the error and the gate compare (both engines
    see the identical rounded operand).

    Scale shape: candidates ∝ band collisions (never all-pairs);
    signatures and shingle sets attach to candidates only, with NO
    broadcast hints on the corpus-cardinality sides (AQE decides)."""
    # r11: signatures come from the persisted per-(session, corpus)
    # artifact — see _mh_sig_index for the measured duplicate-CPU cost
    # this removes.
    sig = _mh_sig_index(spark, sf_dir)
    bands = _mh_bands_of_sig(sig)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.m{i}") == F.col(f"sb.m{i}"), 1).otherwise(0)
        for i in range(_MH_K)
    )
    sh = shingle_index(spark, sf_dir).select("doc_id", "sh")
    ta = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    tb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    na, nb = F.size("sha"), F.size("shb")
    exact = (
        exact_round(inter.cast("double") / (na + nb - inter), 4).alias("exact_jaccard")
    )
    est = (agree.cast("double") / _MH_K).alias("est_jaccard")
    j = (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", est, exact)
    )
    return j.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "exact_jaccard",
        exact_round(
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 4
        ).alias("abs_err"),
        (F.col("est_jaccard") >= JACCARD_THRESHOLD).alias("est_positive"),
        (F.col("exact_jaccard") >= JACCARD_THRESHOLD).alias(
            "exact_positive"
        ),
    )


# X138 — multi-pass sorted-neighborhood ------------------------------------
@query(
    "snm_multipass_pairs",
    oracle=f"""
    WITH t AS ({_SHINGLES_SQL}),
    tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk
      FROM documents
    ),
    r1 AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY array_to_string(tk[1:{SNM_KEY_TOKENS}], ' '),
                        doc_id) AS rn
      FROM tok
    ),
    c1 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM r1 a JOIN r1 b ON b.rn > a.rn AND b.rn - a.rn <= {SNM_W}
    ),
    r2 AS (
      SELECT doc_id, row_number() OVER (
               ORDER BY array_to_string(tk[-{SNM_KEY_TOKENS}:], ' '),
                        doc_id) AS rn
      FROM tok
    ),
    c2 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM r2 a JOIN r2 b ON b.rn > a.rn AND b.rn - a.rn <= {SNM_W}
    ),
    cand AS (
      SELECT doc_a, doc_b, COUNT(DISTINCT pass) AS n_passes
      FROM (SELECT doc_a, doc_b, 1 AS pass FROM c1
            UNION ALL
            SELECT doc_a, doc_b, 2 AS pass FROM c2)
      GROUP BY doc_a, doc_b
    ),
    j AS (
      SELECT c.doc_a, c.doc_b, c.n_passes,
             len(list_intersect(ta.sh, tb.sh)) AS inter,
             len(ta.sh) AS na, len(tb.sh) AS nb
      FROM cand c
      JOIN t ta ON ta.doc_id = c.doc_a
      JOIN t tb ON tb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, CAST(n_passes AS BIGINT) AS n_passes,
           CAST(ROUND(CAST(CAST(inter AS DOUBLE) / (na + nb - inter)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS jaccard
    FROM j
    WHERE inter > 0
      AND CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_THRESHOLD}
    """,
    tags=("dedup", "extension"),
)
def snm_multipass_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X138: MULTI-PASS sorted-neighborhood — the recall repair the
    single-pass docstring promised: SNM's blind spot is a near-dup
    whose edit hits the sort key (it sorts far away and never shares a
    window), so the classic remedy re-runs the slide with a ROTATED
    key. Pass 1 sorts by the first {SNM_KEY_TOKENS} normalized tokens,
    pass 2 by the LAST {SNM_KEY_TOKENS}; candidates are the union
    (n_passes records which passes proposed each pair — the recall
    attribution), verification is one exact-Jaccard pass over the
    distinct union.

    Scale shape: each pass is the registered ``_snm_cand`` machinery
    (range-partition rank + carry offsets + block equi-join — ints
    only on the wire); the union dedups on (doc_a, doc_b) before
    shingle sets attach, so verify cost is |distinct candidates|, and
    per-doc frames join with NO broadcast hints."""
    docs = load_table(spark, sf_dir, "documents")
    # r11: tokenize ONCE into a spread, materialized frame. Each pass's
    # repartitionByRange evaluates its key during range SAMPLING and
    # again when writing partitions, so the previous form ran the regex
    # tokenization 4x, each single-task off the one-file scan; both
    # pass keys are now cheap array slices over the checkpointed token
    # arrays (disk-spillable storage — at deploy scale this frame is
    # the written key index the SNM literature assumes).
    toks_cp = (
        spread_scan(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", tokens().alias("__toks"))
        .localCheckpoint(eager=True)
    )
    toks = F.col("__toks")
    k1 = F.array_join(F.slice(toks, 1, SNM_KEY_TOKENS), " ")
    k2 = F.array_join(F.slice(toks, -SNM_KEY_TOKENS, SNM_KEY_TOKENS), " ")
    c1 = (
        _snm_cand(toks_cp, k1)
        .select("doc_a", "doc_b")
        .withColumn("pass", F.lit(1))
    )
    c2 = (
        _snm_cand(toks_cp, k2)
        .select("doc_a", "doc_b")
        .withColumn("pass", F.lit(2))
    )
    cand = (
        c1.unionByName(c2)
        .groupBy("doc_a", "doc_b")
        .agg(F.count_distinct(F.col("pass")).alias("n_passes"))
    )
    sh = shingle_index(spark, sf_dir).select("doc_id", "sh")
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    j = cand.join(sa, "doc_a").join(sb, "doc_b")
    # r11: the verify join's output is ~0.4 MB of shuffle bytes, so AQE
    # coalesces it to ONE partition — but each row costs an
    # array_intersect over two ~100-token shingle sets (CPU-dense,
    # byte-light: measured a 1.3 s single-task stage). An explicit
    # repartition (not coalescible) spreads the verification; the
    # arrays are already on the wire from the attach joins.
    j = j.repartition(
        j.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b"
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    na, nb = F.size("sha"), F.size("shb")
    jac = inter.cast("double") / (na + nb - inter)
    return (
        j.filter((inter > 0) & (jac >= JACCARD_THRESHOLD))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_passes").cast("bigint").alias("n_passes"),
            exact_round(jac, 4).alias("jaccard"),
        )
    )


# X140 — incremental substring screen (4th leg of the incremental family) --
@query(
    "incremental_substring_update",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    cg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             md5(array_to_string(t[(i+1):(i+{SUBSTR_K})], ' ')) AS h
      FROM toks, UNNEST(range(0, len(t) - {SUBSTR_K} + 1)) AS u(i)
      WHERE source = 'src0'
    ),
    bg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             md5(array_to_string(t[(i+1):(i+{SUBSTR_K})], ' ')) AS h
      FROM toks, UNNEST(range(0, len(t) - {SUBSTR_K} + 1)) AS u(i)
      WHERE source <> 'src0'
    ),
    hot AS (
      SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM cg GROUP BY h
      ) WHERE nd > {SUBSTR_MAX_DF}
    ),
    c2 AS (SELECT * FROM cg ANTI JOIN hot USING (h)),
    b2 AS (SELECT * FROM bg ANTI JOIN hot USING (h)),
    m AS (
      SELECT b.doc_id AS bdoc, c.doc_id AS cdoc,
             b.i AS ib, b.i - c.i AS diag
      FROM b2 b JOIN c2 c ON b.h = c.h
    ),
    runs AS (
      SELECT bdoc, cdoc, diag, island,
             COUNT(*) + {SUBSTR_K} - 1 AS run_tokens
      FROM (
        SELECT bdoc, cdoc, diag, ib,
               ib - row_number() OVER (
                 PARTITION BY bdoc, cdoc, diag ORDER BY ib) AS island
        FROM m
      )
      GROUP BY bdoc, cdoc, diag, island
    ),
    q AS (SELECT * FROM runs WHERE run_tokens >= {SUBSTR_MIN_RUN}),
    per AS (
      SELECT bdoc, COUNT(DISTINCT cdoc) AS ncd, MAX(run_tokens) AS mr
      FROM q GROUP BY bdoc
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.ncd, 0) AS BIGINT) AS n_corpus_matches,
           CAST(COALESCE(per.mr, 0) AS BIGINT) AS max_shared_run,
           COALESCE(per.ncd, 0) > 0 AS is_substring_dup
    FROM documents d LEFT JOIN per ON per.bdoc = d.doc_id
    WHERE d.source <> 'src0'
    """,
    tags=("dedup", "incremental", "corpus", "extension"),
)
def incremental_substring_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X140: the EXACT-SUBSTRING leg of the incremental family (chunk:
    ``incremental_corpus_update``; semantic:
    ``incremental_semantic_update``; near-dup:
    ``incremental_minhash_update``) — a new ingest batch screened for
    ≥ {SUBSTR_MIN_RUN}-token verbatim overlap with the standing corpus
    WITHOUT touching corpus text. src0 plays the standing corpus; its
    (doc_id, offset, anchor-hash) gram index is materialized once to
    parquet — append-only operational artifact — and the screen reads
    ONLY that index plus the batch (zero corpus scans, plan-asserted).

    Per batch doc: how many corpus documents share a qualifying
    verbatim run (the diagonal gaps-and-islands of ``substring_dedup``
    applied batch-vs-index), the longest such run, and the dup flag.
    Hot anchors are dropped by CORPUS document frequency (the index is
    all the screen may consult — declared semantics, mirrored by the
    oracle).

    Scale shape: per-ingest cost ∝ batch grams × anchor collisions,
    never corpus size; every exchange carries (ids, int offsets,
    16-byte hashes); the islands window partitions by (batch doc,
    corpus doc, diagonal) — candidate-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") == "src0")
    batch = docs.filter(F.col("source") != "src0")

    # r11: both gram builds are spread_scan-gated — each md5-gram
    # projection ran as a single task off the one-file local scan
    # (the corpus index build + batch grams dominated the measured
    # 2.5-3.2 s); no-op at deploy scale (catalog.spread_scan).
    cg = (
        _persisted_doc_artifact(
            spark,
            sf_dir,
            "incr_sub_index",
            lambda: _gram_frame(spread_scan(corpus, "doc_id")),
        )
        .withColumnRenamed("doc_id", "cdoc")
        .withColumnRenamed("i", "ic")
    )
    hot = (
        cg.groupBy("h")
        .agg(F.countDistinct("cdoc").alias("nd"))
        .filter(F.col("nd") > SUBSTR_MAX_DF)
        .select("h")
    )
    bg = _gram_frame(spread_scan(batch, "doc_id")).select(
        F.col("doc_id").alias("bdoc"), F.col("i").alias("ib"), "h"
    )
    m = (
        bg.join(hot, "h", "left_anti")
        .join(cg.join(hot, "h", "left_anti"), "h")
        .select(
            "bdoc", "cdoc", "ib", (F.col("ib") - F.col("ic")).alias("diag")
        )
    )
    w = Window.partitionBy("bdoc", "cdoc", "diag").orderBy("ib")
    runs = (
        m.withColumn("island", F.col("ib") - F.row_number().over(w))
        .groupBy("bdoc", "cdoc", "diag", "island")
        .agg((F.count(F.lit(1)) + SUBSTR_K - 1).alias("run_tokens"))
        .filter(F.col("run_tokens") >= SUBSTR_MIN_RUN)
    )
    per = runs.groupBy("bdoc").agg(
        F.countDistinct("cdoc").alias("ncd"),
        F.max("run_tokens").alias("mr"),
    )
    ncd = F.coalesce("ncd", F.lit(0)).cast("bigint")
    return (
        batch.select(F.col("doc_id").alias("bdoc"))
        .join(per, "bdoc", "left")
        .select(
            F.col("bdoc").alias("doc_id"),
            ncd.alias("n_corpus_matches"),
            F.coalesce("mr", F.lit(0)).cast("bigint").alias(
                "max_shared_run"
            ),
            (ncd > 0).alias("is_substring_dup"),
        )
    )


# X141 — cross-family pair-overlap audit -----------------------------------
_OVERLAP_FAMILIES = (
    "near_dedup_ngram_jaccard",
    "simhash_near_dup_pairs",
    "minhash_band_pairs",
    "substring_dedup",
)


def _family_overlap_oracle() -> str:
    from itertools import combinations

    from ..registry import all_queries

    qs = all_queries()
    short = {
        "near_dedup_ngram_jaccard": "ngram_jaccard",
        "simhash_near_dup_pairs": "simhash",
        "minhash_band_pairs": "minhash_band",
        "substring_dedup": "substring",
    }
    ctes = ",\n    ".join(
        f"f{i} AS (SELECT doc_a, doc_b FROM ({qs[name].oracle}))"
        for i, name in enumerate(_OVERLAP_FAMILIES)
    )
    blocks = []
    for (i, na), (j, nb) in combinations(enumerate(_OVERLAP_FAMILIES), 2):
        blocks.append(f"""
    SELECT '{short[na]}' AS family_a, '{short[nb]}' AS family_b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM f{i}) AS n_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM f{j}) AS n_b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT doc_a, doc_b FROM f{i}
               INTERSECT
               SELECT doc_a, doc_b FROM f{j})) AS n_both""")
    union = "\n    UNION ALL\n".join(blocks)
    return f"""
    WITH {ctes},
    raw AS ({union})
    SELECT family_a, family_b, n_a, n_b, n_both,
           CASE WHEN n_a + n_b - n_both = 0 THEN 0.0
                ELSE CAST(ROUND(CAST(CAST(n_both AS DOUBLE)
                                     / (n_a + n_b - n_both)
                                     AS DECIMAL(28,10)), 4) AS DOUBLE)
           END AS overlap_jaccard
    FROM raw
    """


@query(
    "dedup_family_overlap_report",
    oracle=_family_overlap_oracle(),
    tags=("dedup", "audit", "extension"),
)
def dedup_family_overlap_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X141: WHICH DEDUP FAMILIES AGREE — for every pair of
    pair-emitting families (3-gram Jaccard verify, SimHash hamming
    band, MinHash band candidates, exact-substring runs), the overlap
    of their emitted (doc_a, doc_b) sets with the set-Jaccard measure.
    High overlap = redundant passes (drop one); low overlap = the
    families catch DIFFERENT duplication (run both) — the evidence
    behind ``dedup_audit_report``'s per-family cost/benefit table.
    Oracle EMBEDS the four registered family oracles verbatim, so the
    report can never drift from the operators it audits.

    Scale shape: each family keeps its registered plan; pair frames
    are collision-bounded (never corpus²) and are materialized once
    (localCheckpoint) so the six comparisons reuse them; each
    comparison is one pair-keyed join + scalar aggregates."""
    from itertools import combinations

    short = {
        "near_dedup_ngram_jaccard": "ngram_jaccard",
        "simhash_near_dup_pairs": "simhash",
        "minhash_band_pairs": "minhash_band",
        "substring_dedup": "substring",
    }
    from ..registry import all_queries

    qs = all_queries()
    frames = {
        name: qs[name]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
        for name in _OVERLAP_FAMILIES
    }
    rows = None
    for na, nb in combinations(_OVERLAP_FAMILIES, 2):
        fa, fb = frames[na], frames[nb]
        n_a = fa.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
        n_b = fb.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
        n_both = (
            fa.join(fb, ["doc_a", "doc_b"])
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        )
        row = (
            n_a.crossJoin(n_b)
            .crossJoin(n_both)
            .select(
                F.lit(short[na]).alias("family_a"),
                F.lit(short[nb]).alias("family_b"),
                "n_a",
                "n_b",
                "n_both",
                F.when(
                    F.col("n_a") + F.col("n_b") - F.col("n_both") == 0,
                    F.lit(0.0),
                )
                .otherwise(
                    exact_round(
                        F.col("n_both").cast("double")
                        / (
                            F.col("n_a")
                            + F.col("n_b")
                            - F.col("n_both")
                        ),
                        4,
                    )
                )
                .alias("overlap_jaccard"),
            )
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


# X162 — near-dup graph transitivity audit ----------------------------------
def _transitivity_oracle() -> str:
    from ..registry import all_queries

    mhb = all_queries()["minhash_band_pairs"].oracle
    return f"""
    WITH p AS (SELECT doc_a, doc_b FROM ({mhb})),
    e AS (
      SELECT doc_a AS u, doc_b AS v FROM p
      UNION ALL
      SELECT doc_b, doc_a FROM p
    ),
    w AS (
      SELECT e1.u AS a, e2.v AS c
      FROM e e1 JOIN e e2 ON e1.v = e2.u AND e1.u < e2.v
    ),
    cl AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_closed
      FROM w JOIN p ON w.a = p.doc_a AND w.c = p.doc_b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n_wedges,
           cl.n_closed,
           CASE WHEN (SELECT COUNT(*) FROM w) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(ROUND(CAST(
                  CAST(cl.n_closed AS DOUBLE)
                  / CAST((SELECT COUNT(*) FROM w) AS DOUBLE)
                  AS DECIMAL(28,10)), 4) AS DOUBLE) END AS transitivity
    FROM cl
    """


@query(
    "dedup_transitivity_audit",
    oracle=_transitivity_oracle(),
    tags=("dedup", "audit", "extension"),
)
def dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X162: TRANSITIVITY of the near-dup relation — the audit that
    justifies (or indicts) clustering pairs into dedup groups: count
    wedges a–b–c in the MinHash-band pair graph and how many close
    into a triangle (a–c also a pair). Transitivity near 1 means the
    pair relation behaves like an equivalence and connected-components
    grouping (X33 near_dup_clusters) is faithful; low transitivity
    means chains of borderline pairs glue UNRELATED documents into one
    keeper group — the classic over-merging failure of CC dedup.
    Oracle embeds the registered ``minhash_band_pairs`` oracle
    verbatim (X141 discipline), so the audit can never drift from the
    family it audits.

    Scale shape: the pair graph is collision-bounded (banded
    candidates, never corpus²); the wedge join is an equi-join on the
    shared endpoint whose output is Σ deg(b)² over the PAIR GRAPH —
    dedup graphs are near-disjoint small clusters, so degrees are
    small by construction (and a skewed hub would itself be the
    over-merge signal this audit exists to catch). The pair frame is
    materialized once and reused by all three counts; ids only on the
    wire."""
    from ..registry import all_queries

    p = (
        all_queries()["minhash_band_pairs"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    e = p.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionAll(
        p.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    w = (
        e.alias("e1")
        .join(
            e.alias("e2"),
            (F.col("e1.v") == F.col("e2.u"))
            & (F.col("e1.u") < F.col("e2.v")),
        )
        .select(F.col("e1.u").alias("a"), F.col("e2.v").alias("c"))
        .localCheckpoint(eager=True)
    )
    n_pairs = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    n_wedges = w.agg(F.count(F.lit(1)).cast("bigint").alias("n_wedges"))
    n_closed = (
        w.join(
            p,
            (F.col("a") == F.col("doc_a")) & (F.col("c") == F.col("doc_b")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_closed"))
    )
    return (
        n_pairs.crossJoin(n_wedges)
        .crossJoin(n_closed)
        .select(
            "n_pairs",
            "n_wedges",
            "n_closed",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                exact_round(
                    F.col("n_closed").cast("double")
                    / F.col("n_wedges").cast("double"),
                    4,
                )
            )
            .alias("transitivity"),
        )
    )


# X205 — MOSS winnowing fingerprint pairs -----------------------------------
#: winnowing parameters: K-token grams, window of W gram hashes, and the
#: minimum shared-fingerprint count for a reported pair.
WINNOW_K = 4
WINNOW_W = 4
WINNOW_MIN_SHARED = 3
# Drop fingerprints selected by more documents than this before the
# pair join (the SUBSTR_MAX_DF discipline, dedup.py:1329): a boilerplate
# fingerprint shared by F docs would emit F(F-1)/2 join rows — one
# license header could quadratically blow up the join at corpus scale.
# MOSS itself culls over-common fingerprints for exactly this reason.
WINNOW_MAX_DF = 50


def _winnow_grams_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, grams): each doc's ``WINNOW_K``-token gram hash array —
    one narrow HOF projection fused into the scan, shared by the pair
    report and the span rewrite.

    grams truncate to 16 hex (64-bit space) BEFORE the window mins: the
    min-selection then compares 16-char strings instead of 32 —
    measured 2x on the whole query (10.4 -> 5.4 s at sf0.1) with the
    oracle truncating identically, so selection stays engine-exact.

    r11: the scan is ``spread_scan``-gated — the md5-gram projection was
    a measured 5.05 s SINGLE-TASK stage at sf0.1 (single-file,
    single-row-group local parquet); at deploy scale the gate is a
    no-op and the projection stays fused into the many-file scan."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    t = tokens()
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("t")) - WINNOW_K),
        lambda i: F.substring(
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), i + 1, WINNOW_K))),
            1,
            16,
        ),
    )
    # r11: NO Filter nodes here — a filter on these derived columns is
    # pushed below the spread exchange with the derivation SUBSTITUTED
    # IN, so the whole tokenize+md5 gram computation re-ran inside the
    # single-task pre-exchange stage (measured: the plan's pushed-down
    # Filter carried size(transform(..., md5(...))) and the stage cost
    # ~4 s on one core). Short docs instead yield EMPTY gram arrays
    # (when-guard; CaseWhen evaluates branches lazily) and the
    # consumers' explode drops them — bit-identical to the filters.
    grams_total = F.when(F.size(F.col("t")) >= WINNOW_K, grams).otherwise(
        F.array().cast("array<string>")
    )
    return docs.select("doc_id", t.alias("t")).select(
        "doc_id", grams_total.alias("grams")
    )


def _winnow_fp_frame(
    spark: SparkSession, sf_dir: str, positional: bool
) -> DataFrame:
    """The DF-capped winnowing fingerprint frame: distinct
    (doc_id, fp16) — or (doc_id, pos, fp16) with winnowing's
    RIGHTMOST-TIE position rule when ``positional`` — with fingerprints
    selected by more than ``WINNOW_MAX_DF`` documents dropped
    (oracle-mirrored; the substring family's skew defense).

    Rightmost tie: the selected gram for window j is the LARGEST gram
    index in [j, j+W-1] attaining the window minimum — recovered as
    ``j + W - array_position(reverse(slice), min)`` (array_position
    finds the FIRST hit in the reversed slice = the rightmost in the
    original). localCheckpoint: the frame has three consumers (hot-DF
    count + both pair-join sides, or the keeper/drop legs of the
    rewrite) of a regex+md5-heavy projection; pin it once. At cluster
    scale this is a written fingerprint index."""
    g = _winnow_grams_frame(spark, sf_dir)
    win = F.sequence(F.lit(0), F.size(F.col("grams")) - WINNOW_W)
    if positional:
        def pick(j):
            sl = F.slice(F.col("grams"), j + 1, WINNOW_W)
            mn = F.array_min(sl)
            return F.struct(
                (j + WINNOW_W - F.array_position(F.reverse(sl), mn))
                .cast("bigint")
                .alias("pos"),
                mn.alias("fp16"),
            )

        # r11: duplicates of (pos, fp16) can only arise WITHIN one
        # document (adjacent windows picking the same minimum), so
        # array_distinct inside the projection replaces the global
        # DISTINCT — the 2.3M-row exchange + two-phase aggregate are
        # gone and the set is identical. EAGER checkpoint: lazy, the
        # DF-cap branch and the anti-join+write branch of the build
        # job each recomputed the whole md5 pipeline (measured as two
        # extra ~8 CPU-s stages).
        sels_pos = F.when(
            F.size(F.col("grams")) >= WINNOW_W,
            F.array_distinct(F.transform(win, pick)),
        ).otherwise(F.array().cast("array<struct<pos:bigint,fp16:string>>"))
        fps = (
            g.select("doc_id", F.explode(sels_pos).alias("s"))
            .select("doc_id", "s.pos", "s.fp16")
        ).localCheckpoint(eager=True)
        per_doc = fps.select("doc_id", "fp16").distinct()
    else:
        sels = F.when(
            F.size(F.col("grams")) >= WINNOW_W,
            F.array_distinct(
                F.transform(
                    win,
                    lambda j: F.array_min(
                        F.slice(F.col("grams"), j + 1, WINNOW_W)
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        fps = (
            g.select("doc_id", F.explode(sels).alias("fp16"))
        ).localCheckpoint(eager=True)
        per_doc = fps
    # hot-fingerprint DF cap (oracle-mirrored): document frequency per
    # fp16. r11: countDistinct replaces the separate per_doc.distinct()
    # pass — its internal partial dedup is the same computation with
    # one fewer full exchange of the fingerprint set.
    hot = (
        per_doc.groupBy("fp16")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") > WINNOW_MAX_DF)
        .select("fp16")
    )
    return fps.join(hot, "fp16", "left_anti")


def _persisted_doc_artifact(
    spark: SparkSession, sf_dir: str, tag: str, build
) -> DataFrame:
    """Build-once / read-everywhere parquet artifact derived from the
    documents table: ``build()`` runs once per ``memo.ARTIFACTS`` key
    (session, tag, documents content), lands in a scratch parquet
    directory named by the key's digest (no other session or corpus
    version overwrites files a live frame scans; dropping the entry
    deletes it), and every consumer scans the DISK-backed columnar
    table — no raw-text heap checkpoints (the ×100 probe's OOM class),
    and at deploy scale this IS the written index a pipeline hands
    between jobs."""
    app = spark.sparkContext.applicationId
    docs = load_table(spark, sf_dir, "documents")
    key = (app, tag, input_identity(docs.inputFiles()))
    path = scratch_dir(f"{tag}_{md5(repr(key).encode()).hexdigest()[:16]}")

    def persist() -> DataFrame:
        build().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    if key[2] is None:
        return persist()
    return ARTIFACTS.get_or_put(
        key, persist, app, lambda: shutil.rmtree(path, ignore_errors=True)
    )


def _winnow_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED positional winnowing fingerprint index —
    ``(doc_id, pos, fp16)`` DF-capped, written to parquet ONCE per
    (session, corpus) and read back by every winnowing consumer
    (X205 pair report, X239 span rewrite). This is the "written
    fingerprint index at cluster scale" the frame docstring promises,
    made real: the regex+md5-heavy gram projection and window-min
    selection — the dominant cost of both queries — run once; the
    consumers scan a narrow parquet table of (bigint, bigint,
    16-hex).

    The SET-shaped frame X205 needs is a projection of this index:
    dropping ``pos`` and de-duplicating (doc_id, fp16) yields exactly
    the set of per-window minima, and the DF cap commutes (document
    frequency is counted over distinct (doc_id, fp16) in both
    shapes), so the pair report's semantics — and its oracle — are
    unchanged.

    At deploy scale the parquet artifact is the handoff point: the
    index builds in the ingest pipeline, pair reports and rewrites
    are downstream jobs that never touch document text."""
    return _persisted_doc_artifact(
        spark,
        sf_dir,
        "winnow_fp_index",
        lambda: _winnow_fp_frame(spark, sf_dir, positional=True),
    )


@query(
    "winnowing_fingerprint_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(0, len(t) - {WINNOW_K} + 1),
                            i -> substr(md5(array_to_string(
                                   t[i+1:i+{WINNOW_K}], ' ')), 1, 16))
               AS grams
      FROM toks WHERE len(t) >= {WINNOW_K}
    ),
    sel AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(grams) - {WINNOW_W} + 1),
                                   j -> list_min(grams[j+1:j+{WINNOW_W}])))
               AS fp16
      FROM g WHERE len(grams) >= {WINNOW_W}
    ),
    fps AS (SELECT DISTINCT doc_id, fp16 FROM sel),
    hot AS (
      SELECT fp16 FROM (
        SELECT fp16, COUNT(*) AS nd FROM fps GROUP BY fp16
      ) WHERE nd > {WINNOW_MAX_DF}
    ),
    f AS (SELECT * FROM fps ANTI JOIN hot USING (fp16))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM f a JOIN f b ON a.fp16 = b.fp16 AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
    tags=("dedup", "fingerprint", "extension"),
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X205: MOSS-style WINNOWING near-dup pairs — the guaranteed-
    detection fingerprint family the dedup suite lacked: each doc's
    {WINNOW_K}-token gram hashes are reduced to the set of per-window
    minima (window = {WINNOW_W} consecutive grams), which provably
    fingerprints EVERY shared substring of ≥ K+W-1 tokens (the
    winnowing guarantee; doc_fingerprint's plain rolling hash samples
    arbitrarily and can miss). Pairs sharing ≥ {WINNOW_MIN_SHARED}
    fingerprints are reported with the shared count.

    Positions are dropped deliberately: winnowing's rightmost-tie rule
    only disambiguates WHERE a fingerprint came from; the selected
    HASH SET — all this pair report needs — is exactly the set of
    window minima.

    Plan: gram hashing + window-min selection are narrow per-doc array
    HOFs fused into the scan (zero Python); the only exchanges carry
    (doc_id, 16-hex) — never text (the chunk_dedup no-text-on-the-wire
    rule); the pair join is fingerprint-bucketed (near_dedup banding
    shape), never all-pairs. Fingerprints selected by more than
    ``WINNOW_MAX_DF`` documents are dropped before the join (declared
    semantics, mirrored in the oracle): a boilerplate fingerprint in F
    docs otherwise emits F(F-1)/2 join rows — the skew defense the
    substring family already carries (``SUBSTR_MAX_DF``).

    Reads the PERSISTED positional index (``_winnow_index``, shared
    with X239) and projects positions away — the set of per-window
    minima is identical either way (see the index docstring), so the
    oracle is untouched while the md5-heavy selection is paid once
    per session, not once per query."""
    f = (
        _winnow_index(spark, sf_dir)
        .select("doc_id", "fp16")
        .distinct()
    )
    a = f.select(
        F.col("doc_id").alias("doc_a"), F.col("fp16").alias("fp_a")
    )
    b = f.select(
        F.col("doc_id").alias("doc_b"), F.col("fp16").alias("fp_b")
    )
    return (
        a.join(
            b,
            (F.col("fp_a") == F.col("fp_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


# X239 — winnowing span rewrite ----------------------------------------------
def _winnow_pos_sql() -> str:
    """CTE chain to the DF-capped POSITIONAL fingerprint set ``f`` —
    the DuckDB twin of ``_winnow_fp_frame(positional=True)``:
    rightmost tie via list_position over the reversed window slice."""
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, t,
             list_transform(range(0, len(t) - {WINNOW_K} + 1),
                            i -> substr(md5(array_to_string(
                                   t[i+1:i+{WINNOW_K}], ' ')), 1, 16))
               AS grams
      FROM toks WHERE len(t) >= {WINNOW_K}
    ),
    sel AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(grams) - {WINNOW_W} + 1),
               j -> struct_pack(
                 pos := j + {WINNOW_W}
                        - list_position(
                            list_reverse(grams[j+1:j+{WINNOW_W}]),
                            list_min(grams[j+1:j+{WINNOW_W}])),
                 fp := list_min(grams[j+1:j+{WINNOW_W}])))) AS s
      FROM g WHERE len(grams) >= {WINNOW_W}
    ),
    fps AS (
      SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos,
             s.fp AS fp16
      FROM sel
    ),
    hot AS (
      SELECT fp16 FROM (
        SELECT fp16, COUNT(DISTINCT doc_id) AS nd FROM fps GROUP BY fp16
      ) WHERE nd > {WINNOW_MAX_DF}
    ),
    f AS (SELECT * FROM fps ANTI JOIN hot USING (fp16))"""


@query(
    "winnowing_span_rewrite",
    oracle=_winnow_pos_sql()
    + f""",
    keep AS (SELECT fp16, MIN(doc_id) AS keeper FROM f GROUP BY fp16),
    drops AS (
      SELECT f.doc_id, CAST(u.p AS BIGINT) AS p
      FROM f JOIN keep USING (fp16),
           UNNEST(range(f.pos, f.pos + {WINNOW_K})) AS u(p)
      WHERE f.doc_id > keep.keeper
    ),
    mask AS (
      SELECT doc_id, list(DISTINCT p) AS dp,
             COUNT(DISTINCT p) AS n_drop
      FROM drops GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(m.n_drop, 0) AS BIGINT) AS n_tokens_removed,
           COALESCE(
             CASE WHEN m.doc_id IS NULL THEN array_to_string(t.t, ' ')
                  ELSE array_to_string(
                    list_filter(t.t,
                      (x, i) -> NOT list_contains(m.dp,
                                                  CAST(i - 1 AS BIGINT))),
                    ' ') END,
             '') AS text_rewritten
    FROM toks t LEFT JOIN mask m USING (doc_id)
    """,
    tags=("dedup", "fingerprint", "rewrite", "extension"),
)
def winnowing_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X239: the REWRITE-grade winnowing operator — the pairs report
    says WHO shares fingerprints; this one CUTS the shared material
    (the substring_dedup_rewrite convention): every K-token span whose
    winnowing fingerprint is also selected by a LOWER doc_id document
    is removed from the higher document (keep-first, exact_dedup's
    policy), overlapping spans unioning before the cut.

    Positions come from winnowing's RIGHTMOST-TIE rule (the MOSS
    disambiguation the set-only pairs query deliberately drops): the
    selected gram for a window is the rightmost index attaining the
    window minimum, recovered without a per-window sort as
    ``j + W - array_position(reverse(slice), min)`` in BOTH engines.

    Scale shape: fingerprint selection is the same narrow HOF fused
    into the scan (shared ``_winnow_fp_frame``, DF-capped so
    boilerplate fingerprints never fan out); keeper assignment is one
    agg on the 16-hex key; the removal mask exchanges (doc_id, int)
    only and is persisted as a parquet artifact before the
    reconstruction join (the substring_dedup_rewrite statistics trick)
    so document text is read exactly once at the scan and NEVER
    shuffles. Fingerprint selection reads the PERSISTED parquet index
    (``_winnow_index``, shared with X205)."""
    f = _winnow_index(spark, sf_dir)
    keep = f.groupBy("fp16").agg(F.min("doc_id").alias("keeper"))
    drops = (
        f.join(keep, "fp16")
        .filter(F.col("doc_id") > F.col("keeper"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos"), F.col("pos") + WINNOW_K - 1
                )
            ).alias("p"),
        )
    )
    # r11: the pre-aggregation DISTINCT was redundant — collect_set
    # already dedupes, so it was a second full exchange+agg over the
    # K-fold position fan-out (a measured ~9 s executor-CPU stage);
    # n_drop = size(drop_pos) is the same distinct-position count.
    mask = drops.groupBy("doc_id").agg(
        F.collect_set("p").alias("drop_pos")
    )
    mask = _persisted_doc_artifact(
        spark, sf_dir, "winnow_rewrite_mask", lambda: mask
    ).select(
        "doc_id",
        "drop_pos",
        F.size("drop_pos").cast("bigint").alias("n_drop"),
    )
    docs = load_table(spark, sf_dir, "documents")
    t = tokens()
    kept = F.when(F.col("drop_pos").isNull(), t).otherwise(
        F.filter(
            t,
            lambda x, i: ~F.array_contains(
                F.col("drop_pos"), i.cast("bigint")
            ),
        )
    )
    return (
        docs.select("doc_id", "text")
        .join(mask, "doc_id", "left")
        .select(
            "doc_id",
            F.size(t).cast("bigint").alias("n_tokens"),
            F.coalesce("n_drop", F.lit(0))
            .cast("bigint")
            .alias("n_tokens_removed"),
            # coalesce mirrors the oracle: DuckDB's array_to_string of
            # an EMPTY list is NULL (whitespace-only docs), Spark's
            # array_join is '' — both sides land on ''.
            F.coalesce(F.array_join(kept, " "), F.lit("")).alias(
                "text_rewritten"
            ),
        )
    )


# X210 — soft dedup weights ---------------------------------------------------
@query(
    "dedup_soft_weights",
    oracle="""
    WITH g AS (
      SELECT doc_id, md5(text) AS h,
             CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
               AS dup_count
      FROM documents
    )
    SELECT doc_id, dup_count,
           CAST(ROUND(CAST(1.0 / dup_count AS DECIMAL(28,10)), 6)
                AS DOUBLE) AS weight
    FROM g
    """,
    tags=("dedup", "curation", "extension"),
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X210: SOFT dedup — instead of dropping exact duplicates
    (exact_dedup's keep-first), every copy survives with weight
    1/dup_count, so a training run that CAN consume example weights
    keeps the distribution unbiased without losing any document (the
    count-based down-weighting alternative the dedup literature
    recommends when exact dropping is too blunt).

    Plan: one md5-keyed count aggregate (hashes on the wire, never
    text) joined back to the doc ids — implemented as a partitioned
    count window over the hash key, which Spark executes as bounded
    per-group state after one exchange; the weight is one rounded
    IEEE reciprocal. At 100 TB this is exactly exact_dedup's shuffle
    with a count instead of a row_number."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    w = Window.partitionBy("h")
    return docs.select(
        "doc_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("dup_count"),
    ).select(
        "doc_id",
        "dup_count",
        exact_round(F.lit(1.0) / F.col("dup_count"), 6).alias("weight"),
    )


# X241 — prefix-filtered exact Jaccard join (PPJoin/AllPairs family) ---------
#: Jaccard threshold for the prefix-filtered join — exact binary (0.5)
#: so the engine-side ceil(tau*n) prefix arithmetic has no float ties.
PPJOIN_TAU = 0.5


def _ppjoin_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PPJoin family's shingle index — ``(doc_id, n, sh)`` with
    ``n = |sh|`` — persisted to parquet once per (session, corpus).
    Replaces the raw-shingle heap localCheckpoint the ×100 probe OOMed
    on: every consumer (postings explode, both verify legs) scans the
    disk-backed columnar table, so driver/executor heap holds only
    shuffle state, never the corpus's shingle arrays. Since the r9
    second wave this IS the corpus-wide :func:`shingle_index` — one
    artifact serves the whole shingle family."""
    return shingle_index(spark, sf_dir)


def _ppjoin_stages(spark: SparkSession, sf_dir: str) -> dict:
    """The PPJoin pipeline's intermediate frames, by name — the
    OPERATOR builds its result from these, and the ×100 scale probe
    counts them (``tools/scale_probe_100x.py``), so the instrumented
    stages can never drift from the executed plan:

    - ``index``:      (doc_id, n, sh) parquet shingle index
    - ``postings``:   exploded (doc_id, n, h) hashed postings
    - ``prefix``:     postings ranked by (df, h) and cut to the
                      ``n - ceil(tau*n) + 1`` rarest per doc
    - ``candidates``: distinct (doc_a, doc_b) surviving the prefix
                      equi-join + length-ratio prune
    """
    t = _ppjoin_shingle_index(spark, sf_dir)
    hashed = F.transform(
        "sh", lambda s: F.substring(F.md5(s), 1, 16)
    )
    e = t.select(
        "doc_id", "n", hashed.alias("hs")
    ).select("doc_id", "n", F.explode("hs").alias("h"))
    df_counts = e.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = e.join(df_counts, "h").withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "h")
        ),
    )
    # prefix length n - ceil(tau*n) + 1; tau = 0.5 is exact binary, so
    # ceil never sits on a float boundary
    plen = F.col("n") - F.ceil(F.col("n") * PPJOIN_TAU) + 1
    # rnk (the token's position in the doc's GLOBAL (df, h) order)
    # rides along for the positional filter below — PPJoin's "P".
    prefix = ranked.filter(F.col("rnk") <= plen).select(
        "doc_id", "n", "h", "rnk"
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    ratio_ok = (
        F.least(F.col("a.n"), F.col("b.n"))
        >= F.greatest(F.col("a.n"), F.col("b.n")) * PPJOIN_TAU
    )
    # POSITIONAL filter (the second letter of PPJoin; VERDICT r9 task
    # 2's candidate pre-dedup, done algorithmically): at a shared
    # prefix token sitting at ranks (rnk_a, rnk_b) of the two docs'
    # identical global (df, h) total order, the overlap can be at most
    # 1 + min(n_a − rnk_a, n_b − rnk_b); J ≥ tau needs overlap ≥
    # ceil(tau/(1+tau)·(n_a+n_b)). LOSSLESS: for any truly-similar
    # pair, its FIRST common token in the total order satisfies the
    # bound, and the pair survives if ANY shared row passes — so the
    # exact verify sees every qualifying pair, just far fewer
    # impostors (measured at ×100 in SCALE.md). tau = 0.5 makes the
    # requirement (n_a+n_b)/3 with exact small-integer IEEE division.
    overlap_ub = 1 + F.least(
        F.col("a.n") - F.col("a.rnk"), F.col("b.n") - F.col("b.rnk")
    )
    overlap_req = F.ceil(
        (F.col("a.n") + F.col("b.n"))
        * F.lit(PPJOIN_TAU)
        / F.lit(1.0 + PPJOIN_TAU)
    )
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & ratio_ok
            & (overlap_ub >= overlap_req),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return {"index": t, "postings": e, "prefix": prefix, "candidates": cand}


@query(
    "prefix_filter_jaccard_pairs",
    oracle=f"""
    WITH t AS ({_SHINGLES_SQL}),
    e AS (SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS inter, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(ROUND(CAST(CAST(inter AS DOUBLE) / (na + nb - inter)
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS jaccard
    FROM p
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {PPJOIN_TAU}
    """,
    tags=("dedup", "extension"),
)
def prefix_filter_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X241: PREFIX-FILTERED exact Jaccard join (the AllPairs/PPJoin
    family; Vernica, Carey & Li's MapReduce set-similarity join is the
    distributed form) — the third exact-Jaccard algorithm next to the
    inverted-index self-join (X1b) and MinHash-LSH + verify: each
    document indexes ONLY its ``n − ceil(tau*n) + 1`` globally RAREST
    shingles (ascending document frequency, shingle tiebreak); the
    prefix lemma guarantees every pair with J >= tau shares a prefix
    token, so the candidate join touches a vanishing fraction of the
    index that full inverted lists would. Exact verification on the
    candidates makes the filter LOSSLESS — the oracle is the plain
    all-pairs semantics.

    Why it matters at 100 TB: X1b's join fans out on COMMON shingles
    (every "of the and" list self-joins); here common shingles sit in
    nobody's prefix, so hot lists never enter the candidate join — the
    df-ordering does organically what DF caps do by decree.

    Plan: shingles are md5-16hex-HASHED in the scan projection, so the
    df aggregate, the per-doc prefix-rank window, and the candidate
    equi-join all exchange fixed 16-byte keys — raw shingle strings
    never hit the wire (the standing hash-on-the-wire convention;
    r7-verdict item 3). The prefix lemma needs only a CONSISTENT global
    total order on tokens, so ordering by (df, hash) is exactly as
    lemma-complete as (df, string); a 64-bit hash collision could only
    ADD a spurious candidate, which the exact verify discards. Then:
    df aggregate (partial map-side), per-doc prefix selection under a
    doc_id-PARTITIONED rank window, candidate equi-join on the prefix
    hash with the min>=tau*max length prune AND the POSITIONAL bound
    (overlap ≤ 1 + min(n−rnk); lossless — r10) inside the join, exact
    verify via array_intersect over the two shingle arrays (arrays
    fetched for CANDIDATE docs only, attached by SHUFFLED-HASH joins
    so no array-carrying row is ever sorted — r10; the hash build side
    is the index's per-partition slice, which deploy partition sizing
    bounds at ~128 MB).

    Memory contract (×100 probe, r9): the shingle index ``(doc_id, n,
    sh)`` is a PARQUET artifact (``_persisted_doc_artifact``), not a
    heap checkpoint — the r8 probe OOMed the default 8 GiB heap
    precisely on a localCheckpoint of 5·10⁵ raw shingle-string arrays
    held live across the whole pipeline. Disk-backed columnar storage
    is the deployment shape anyway (the index a set-similarity
    pipeline writes once and joins from), and the probe's per-stage
    candidate projection confirms candidate growth itself is linear
    (disjoint vocabularies → per-copy prefixes never cross)."""
    stages = _ppjoin_stages(spark, sf_dir)
    t, cand = stages["index"], stages["candidates"]
    # SHUFFLED-HASH attach (VERDICT r9 task 2, measured in SCALE.md):
    # sort-merge here sorts the array-CARRYING rows — join 1's output
    # (pair, sh_a) is the fat interim, and sorting it for join 2 was
    # ~75% of the probe's ×100 memory spill. Hashing the INDEX side
    # instead builds per-partition tables of (doc_id → sh) — bounded
    # by |index|/partitions, which deploy sizing keeps ~128 MB — and
    # STREAMS the pair rows, so no array row is ever sorted.
    sa = t.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    ).hint("shuffle_hash")
    sb = t.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    ).hint("shuffle_hash")
    v = cand.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na = F.size("sh_a")
    nb = F.size("sh_b")
    jac = inter.cast("double") / (na + nb - inter).cast("double")
    return v.filter(jac >= PPJOIN_TAU).select(
        "doc_a",
        "doc_b",
        exact_round(jac, 4).alias("jaccard"),
    )


# X272 — shard-boundary stitch pairs -----------------------------------------
#: boundary width in tokens: a stitch candidate is doc B whose FIRST
#: STITCH_K tokens equal doc A's LAST STITCH_K tokens.
STITCH_K = 8
#: DF cap on boundary hashes (the WINNOW_MAX_DF discipline): a
#: boilerplate opening ("copyright ...") shared by F docs would emit
#: O(F^2) join rows; cap both sides before the join.
STITCH_MAX_DF = 50


@query(
    "shard_stitch_pairs",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             substr(md5(array_to_string(tk[1:{STITCH_K}], ' ')), 1, 16)
               AS head16,
             substr(md5(array_to_string(
               tk[len(tk) - {STITCH_K} + 1:len(tk)], ' ')), 1, 16)
               AS tail16
      FROM t WHERE len(tk) >= 2 * {STITCH_K}
    ),
    hot AS (
      SELECT h FROM (
        SELECT head16 AS h FROM f UNION ALL SELECT tail16 FROM f
      ) GROUP BY h HAVING COUNT(*) > {STITCH_MAX_DF}
    ),
    fc AS (
      SELECT * FROM f
      WHERE head16 NOT IN (SELECT h FROM hot)
        AND tail16 NOT IN (SELECT h FROM hot)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.tail16 AS boundary_h16
    FROM fc a JOIN fc b
      ON a.tail16 = b.head16 AND a.doc_id <> b.doc_id
    """,
    tags=("dedup", "curation", "extension"),
)
def shard_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X272: SHARD-BOUNDARY STITCH detection — documents that are two
    halves of ONE split original: a crawl that shards mid-document
    (or a pipeline that chunks then re-ingests) leaves doc A whose
    LAST {STITCH_K} tokens equal doc B's FIRST {STITCH_K} tokens; the
    pair (A → B, boundary hash) is the reconstruction edge. The dedup
    suite finds COPIES (exact/near/substring); this finds
    CONTINUATIONS — a different failure mode with a different fix
    (concatenate, not drop). On a clean corpus the report is EMPTY by
    design (tests construct genuinely split fixtures;
    tests/test_new_round9_ops.py).

    Plan: head/tail fingerprints are one narrow HOF projection fused
    into the scan (16-hex, no text past the scan); boundary hashes
    hotter than {STITCH_MAX_DF} docs are dropped on BOTH sides before
    the equi-join (the boilerplate-opening quadratic defense, the
    WINNOW_MAX_DF discipline); the join keys 16-hex against 16-hex —
    at 100 TB this is a hash-join of two fingerprint columns, linear
    in docs."""
    docs = load_table(spark, sf_dir, "documents")
    tk = tokens()
    base = docs.select("doc_id", tk.alias("tk")).filter(
        F.size("tk") >= 2 * STITCH_K
    )
    h16 = lambda arr: F.substring(F.md5(F.concat_ws(" ", arr)), 1, 16)
    f = base.select(
        "doc_id",
        h16(F.slice("tk", 1, STITCH_K)).alias("head16"),
        h16(
            F.slice(F.col("tk"), F.size("tk") - STITCH_K + 1, STITCH_K)
        ).alias("tail16"),
    )
    both = f.select(F.col("head16").alias("h")).unionAll(
        f.select(F.col("tail16").alias("h"))
    )
    hot = (
        both.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > STITCH_MAX_DF)
        .select("h")
    )
    fc = (
        f.join(hot.withColumnRenamed("h", "head16"), "head16", "left_anti")
        .join(hot.withColumnRenamed("h", "tail16"), "tail16", "left_anti")
    )
    a = fc.select(
        F.col("doc_id").alias("doc_a"), F.col("tail16").alias("boundary_h16")
    )
    bb = fc.select(
        F.col("doc_id").alias("doc_b"), F.col("head16").alias("boundary_h16")
    )
    return a.join(bb, "boundary_h16").filter(
        F.col("doc_a") != F.col("doc_b")
    ).select("doc_a", "doc_b", "boundary_h16")
