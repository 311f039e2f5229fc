"""Similarity search over ``embeddings.embedding`` (array<float>) — X3:
brute-force cosine top-k (the correctness baseline) and a
random-hyperplane-LSH bucketed variant (the scale path).

Both are pure Spark SQL higher-order functions (zip_with/aggregate) —
no UDFs, all codegen. The LSH hyperplanes are deterministic seeded
constants embedded into BOTH the Spark plan and the DuckDB oracle SQL,
so even the approximate variant is oracle-checked exactly.

Scale notes (100 TB of vectors):
- brute top-k: broadcast the (small) query set, one pass over the corpus,
  per-partition top-k then merge (Spark's TakeOrderedAndProject shape) —
  never a full sort.
- LSH: bucket id is a narrow map; the candidate join shuffles on the
  bucket key only. More hash tables / fewer planes trade recall for
  candidate count; an IVF (k-means centroid) variant slots into the same
  bucket-join shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.vectors import as_double, cosine, cosine_oracle_sql, dot
from ..memo import ARTIFACTS, input_identity
from ..registry import query

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 10
DIM = 64

# Size-adaptive hyperplane LSH --------------------------------------------
#
# Plane count p is DERIVED FROM CORPUS SIZE, not a constant tuned to one
# scale factor (the round-2 weak spot): p is the smallest count keeping
# the expected bucket occupancy ≤ LSH_TARGET_BUCKET (n ≤ target·2^p),
# clamped to [4, MAX_PLANES] — the same w ≳ log2(n) rule the simhash
# banding comment states (dedup.py). Recall lost to narrower buckets is
# bought back with multiple hash tables: L = 1 + p//3 (≤ N_TABLES_MAX)
# independent plane families, candidates = union of per-table bucket
# matches. Both p and L are computed INSIDE the plan from a scalar
# COUNT(*) (broadcast 1-row cross join), with the identical CASE chain
# in the DuckDB oracle — so the adaptive approximation itself stays
# oracle-checked exactly at every scale factor.
MAX_PLANES = 12
N_TABLES_MAX = 4
LSH_TARGET_BUCKET = 16


def _hyperplanes(table: int = 1) -> np.ndarray:
    """Deterministic seeded gaussian planes (MAX_PLANES × DIM) for one
    hash table. Table 1 extends the round-2 seed (RandomState(42))
    stream, so its first 4 planes are bit-identical to the old fixed
    codebook."""
    return np.random.RandomState(41 + table).randn(MAX_PLANES, DIM)


def _plane_sql(plane: np.ndarray) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"


def _plane_col(plane: np.ndarray) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in plane])


#: (upper-bound-on-n, planes) steps for the CASE chain; beyond the last
#: bound p = MAX_PLANES.
_P_STEPS = [
    (LSH_TARGET_BUCKET << p, p) for p in range(4, MAX_PLANES)
]


def _n_planes(n: int) -> int:
    """Reference Python impl of the rule (used by tests)."""
    for bound, p in _P_STEPS:
        if n <= bound:
            return p
    return MAX_PLANES


def _n_tables(p: int) -> int:
    # 1 + p//4 (was p//3 through round 3): the r3 bench showed the
    # L-table fan-out dominating similarity_topk_lsh's cost; one fewer
    # table at mid sizes (p=7: L 3→2, p=9: L 4→3) cuts signature math
    # and candidate-union volume by ~1/3 while the clustered-corpus
    # recall floor (tests/test_similarity_recall.py, ≥0.60 at 1× and
    # 10× corpus) still holds under this rule.
    return min(N_TABLES_MAX, 1 + p // 4)


def _planes_sql(n: str) -> str:
    whens = " ".join(
        f"WHEN {n} <= {bound} THEN {p}" for bound, p in _P_STEPS
    )
    return f"(CASE {whens} ELSE {MAX_PLANES} END)"


def _tables_sql(p: str) -> str:
    return f"LEAST({N_TABLES_MAX}, 1 + CAST(FLOOR({p} / 4.0) AS INT))"


def _planes_flat_sql() -> str:
    return (
        "["
        + ", ".join(
            _plane_sql(plane)
            for tbl in range(1, N_TABLES_MAX + 1)
            for plane in _hyperplanes(tbl)
        )
        + "]"
    )


def _buckets_col(v: F.Column, p: int, ell: int) -> F.Column:
    """Array of L bucket ids (one per active hash table): bucket t =
    Σ_{i<p} [v·plane(t,i) > 0]·2^i. p and L are plan-time constants;
    each table's active planes fold into ONE array literal and the sum
    is a compact HOF loop over it. (An unrolled multiply-add chain was
    tried and is a trap: ~5k live expression nodes per bucket made
    Catalyst analysis + codegen the bottleneck — 6× slower end-to-end
    than the small interpreted HOF loop whose constants fold away.)"""
    from ..functions.vectors import dot

    def _step(pc: F.Column):
        # closure factory: PySpark reads the lambda's arity, so the
        # plane constant must be captured, not a default argument.
        return lambda acc, i: acc + (
            F.when(
                dot(v, F.get(pc, i)) > 0,
                # 2^i via pow — exact in double for i ≤ 11 (and
                # shiftleft does not take a Column bit count).
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )

    buckets = []
    for tbl in range(1, ell + 1):
        planes_const = F.array(
            *[_plane_col(pl) for pl in _hyperplanes(tbl)[:p]]
        )
        buckets.append(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(p - 1)),
                F.lit(0).cast("long"),
                _step(planes_const),
            )
        )
    return F.array(*buckets)


def _buckets_sql(v: str, p: str, ell: str) -> str:
    return f"""list_transform(range(1, {ell} + 1), t ->
      list_sum(list_transform(range(0, {p}), i ->
        CASE WHEN list_inner_product({v},
               {_planes_flat_sql()}[(t - 1) * {MAX_PLANES} + i + 1]) > 0
             THEN (1::BIGINT << i) ELSE 0::BIGINT END)))"""


def _lsh_keys_df(d: DataFrame) -> DataFrame:
    """(vec_id, v, t, bucket) — one row per vector per active hash
    table. p and L come from ONE corpus count (a table statistic any
    real deployment has for free) and are folded into the plan as
    literals, keeping key emission a pure narrow map: the per-table
    bucket array is computed once per vector, then posexploded.
    Downstream joins are equi-joins on (t, bucket). The oracle derives
    the identical p/L from COUNT(*) with the same rule, so both
    engines agree at any corpus size."""
    p = _n_planes(d.count())
    ell = _n_tables(p)
    sig = d.select(
        "vec_id",
        "v",
        _buckets_col(F.col("v"), p, ell).alias("bs"),
    )
    # Materialize BEFORE the per-table explode: every caller references
    # the keys more than once (query side + corpus side, or the
    # near-dup self-join), and the bucket math is the expensive narrow
    # stage — the cluster equivalent is persisting the signature table
    # before the candidate join. Pre-explode the checkpoint stores ONE
    # copy of each 64-double vector instead of L; the explode is a
    # trivial narrow map each consumer replays from it. (A fully lazy
    # variant — corpus keys uncheckpointed, query keys as their own
    # filtered broadcast build — was measured SLOWER at sf0.1, 2.1 s vs
    # 1.4 s: two small AQE-coalesced queries schedule better locally
    # than one big DAG.)
    sig = sig.localCheckpoint(eager=True)
    return (
        sig.select(
            "vec_id",
            "v",
            F.posexplode("bs").alias("t0", "bucket"),
        )
        .select("vec_id", "v", (F.col("t0") + 1).alias("t"), "bucket")
    )


def _lsh_keys_sql() -> str:
    """Matching CTE text; expects a CTE ``d`` with (vec_id, v)."""
    return f"""
    par AS (
      SELECT p, {_tables_sql('p')} AS L FROM (
        SELECT {_planes_sql('COUNT(*)')} AS p FROM d
      )
    ),
    keyed AS (
      SELECT vec_id, v,
             {_buckets_sql('v', 'par.p', 'par.L')} AS bs
      FROM d CROSS JOIN par
    ),
    keys AS (
      SELECT vec_id, v, t.t AS t, bs[t.t] AS bucket
      FROM keyed CROSS JOIN generate_series(1, {N_TABLES_MAX}) t(t)
      WHERE t.t <= len(bs)
    )"""


# X3 — brute-force exact top-k -------------------------------------------
@query(
    "similarity_topk",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, d.vec_id,
             ROUND({cosine_oracle_sql('q.qv', 'd.v')}, 4) AS cos_sim
      FROM q JOIN d ON d.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "extension"),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 baseline: exact cosine top-k for each query vector (vec_id <
    N_QUERIES) over the whole corpus. Query set is broadcast; ranking
    partitions by query (bounded state). Ordering uses the 4-dp-rounded
    similarity + vec_id tiebreak so ranking is engine-stable."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = d.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(d, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# X3b — semantic clustering (k-means assignment) --------------------------
# Defined below similarity_topk_ivf so it can reuse the trained-codebook
# machinery; registered at module end (needs _trained_cents defined).


# X3 — IVF (inverted-file) approximate top-k -----------------------------
CENT_MOD, CENT_RESIDUE = 50, 7  # codebook SEED: vec_id % 50 == 7
#: FIXED codebook size (r8): the seed is the K_CELLS SMALLEST
#: qualifying vec_ids, so k is independent of corpus size once the
#: corpus has ≥ K_CELLS·CENT_MOD ids — training/assignment cost is
#: O(n·K_CELLS), never O(n²/CENT_MOD). Below the cap (both test SFs:
#: 10 and 40 seeds) the rule reduces to the old every-CENT_MOD-th
#: seed, so small-SF results are unchanged. A deployment picks k for
#: its corpus (SemDeDup: ~10⁵ cells for 10⁹ docs) exactly this way —
#: train once on a sample, persist, share (see _trained_cents memo).
K_CELLS = 128
#: AUTO-k (r9, VERDICT r8 task 3 — the SemDeDup recipe in code, not
#: doc): the codebook size is k = max(K_CELLS, ceil(n / TARGET_CELL)),
#: derived from the corpus COUNT identically in both engines, so the
#: average cell size is pinned at ~TARGET_CELL once the corpus
#: outgrows K_CELLS cells and every within-cell pair stage
#: (semantic_dedup, kNN graph, triangle census, label propagation)
#: stays Σ|cell|² ≈ n·TARGET_CELL — LINEAR by construction. Below the
#: crossover (n ≤ K_CELLS·TARGET_CELL = 8192; both test SFs: 500 and
#: 2000 vectors) the rule reduces EXACTLY to the fixed-k seed, so
#: small-SF results are bit-unchanged. Above it, seeds switch from
#: "smallest K_CELLS qualifying ids" (a sort-limit — fine at fixed k,
#: a global sort at k ∝ n) to a pure MODULUS rule
#: vec_id % floor(n/k) == CENT_RESIDUE % floor(n/k): shuffle-free,
#: sort-free, and ~k seeds by construction.
TARGET_CELL = 64
N_PROBE = 2
LLOYD_ROUNDS = 2  # deterministic k-means refinement of the seed codebook
#: Lloyd trains on a deterministic 1-in-4 sample (standard practice —
#: codebooks are trained on a corpus sample, then the full corpus is
#:  assigned once). Both engines apply the identical residue rule.
TRAIN_MOD, TRAIN_RESIDUE = 4, 3


def _lloyd_round_sql(prev: str, idx: int) -> str:
    """One Lloyd round as DuckDB CTE text: assign every TRAINING-SAMPLE
    vector to its nearest centroid of ``prev``, then re-center each
    cluster with a DECIMAL-exact per-position mean (order-independent
    summation, so it is bit-identical to the Spark side regardless of
    row order)."""
    return f"""
    a{idx} AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT d.vec_id, d.v, c.cent_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND({cosine_oracle_sql('d.v', 'c.cv')}, 6)
                            DESC, c.cent_id) AS arn
        FROM dtrain d CROSS JOIN {prev} c
      ) WHERE arn = 1
    ),
    c{idx} AS (
      SELECT cent_id, list(m ORDER BY pos) AS cv FROM (
        SELECT a.cent_id, gs.pos,
               CAST(ROUND(CAST(
                 CAST(SUM(CAST(a.v[gs.pos] AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*) AS DECIMAL(28,12)), 8) AS DOUBLE) AS m
        FROM a{idx} a CROSS JOIN generate_series(1, {DIM}) gs(pos)
        GROUP BY a.cent_id, gs.pos
      ) GROUP BY cent_id
    )"""


def _assign_nearest(d: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cent_id): each vector's nearest centroid by rounded
    cosine (lowest-cent_id tiebreak) — the ONE assignment primitive
    every semantic-index builder (codebook training, corpus
    assignment, incremental screens) runs.

    Runs the vectorized numpy kernel over ``mapInPandas``
    (``_assign_nearest_arrow``, VERDICT r10 task 2). Per-element SQL
    ``aggregate`` folds are 10-100× off vectorized math, and the
    one-time ×100 artifact build was ~850 s of HOF-dot time; the
    kernel replays the exact IEEE op sequence of the pure-JVM
    ``_assign_nearest_hof`` leg — the reference semantics the oracle
    SQL mirrors — so its argmax is bit-equal, which the full oracle
    matrix plus tests/test_assign_kernel_parity.py enforce.
    """
    return _assign_nearest_arrow(d, cents)


def _assign_nearest_hof(d: DataFrame, cents: DataFrame) -> DataFrame:
    """The JVM column-expression assignment leg. The norms are factored
    OUT of the per-pair cosine — ``nv`` once per vector, ``nc`` once per
    centroid — which is the same IEEE ops in the same order as the
    inline form (sqrt(dot(v,v)) has one bit pattern however often you
    compute it), so oracle parity is unaffected while the pair loop
    does one dot instead of three. argmax via max_by, not a ranking
    window: partially aggregates map-side; (score, -cent_id) struct
    ordering = highest score, lowest centroid tiebreak, identical to
    the oracle's row_number order."""
    from ..functions.vectors import dot, norm

    dn = d.select("vec_id", "v", norm(F.col("v")).alias("nv"))
    cn = cents.select("cent_id", "cv", norm(F.col("cv")).alias("nc"))
    sim = F.round(
        dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("nc")), 6
    )
    # The argmax aggregates ONE BIGINT per row (vec_id → packed code):
    # two r10 lessons from the ×100 embedding probe live here. (1)
    # carrying ``v`` through the n·k fan-out via any_value put an
    # array in the agg buffer → SortAggregateExec sorted the whole
    # 6.25·10⁸-row fan-out WITH vector payloads → OOM at the default
    # heap; ``v`` re-attaches by one corpus-sized key join instead.
    # (2) even max_by(cent_id, struct(s, -cent_id)) keeps a STRUCT in
    # the buffer, which still forces a (narrow-row) SortAggregate; the
    # rounded similarity and the tiebreak pack losslessly into one
    # BIGINT whose natural order IS the struct order, so the argmax is
    # a plain max() — fixed-width buffer, true map-side HashAggregate,
    # the fan-out collapses inside the scan stage with no sort at all.
    #
    # Encoding: s is already rounded to 6dp, so s6 = round(s·10⁶) is
    # an exact integer in [-10⁶, 10⁶]; shift non-negative and pack
    #   code = (s6 + 10⁶)·2⁴⁰ + (2⁴⁰ − 1 − cent_id)
    # max(code) ⇔ (max s, then MIN cent_id) — identical to the struct
    # comparison. Bounds: code ≤ 2·10⁶·2⁴⁰ ≈ 2.2·10¹⁸ < 2⁶³; requires
    # cent_id < 2⁴⁰ (~1.1·10¹² ids — comfortably above any corpus this
    # engine targets per codebook).
    _shift = 1 << 40
    code = (
        (F.round(sim * F.lit(1000000.0), 0).cast("bigint") + F.lit(1000000))
        * F.lit(_shift)
        + (F.lit(_shift - 1) - F.col("cent_id"))
    )
    best = (
        dn.join(F.broadcast(cn))
        .select("vec_id", code.alias("code"))
        .groupBy("vec_id")
        .agg(F.max("code").alias("code"))
        .select(
            "vec_id",
            (
                F.lit(_shift - 1) - F.pmod(F.col("code"), F.lit(_shift))
            ).alias("cent_id"),
        )
    )
    return d.select("vec_id", "v").join(best, "vec_id").select(
        "vec_id", "v", "cent_id"
    )


def _assign_nearest_arrow(d: DataFrame, cents: DataFrame) -> DataFrame:
    """Vectorized Arrow assignment kernel — numpy per batch, bit-equal
    to :func:`_assign_nearest_hof` by construction (the multimodal
    kernel discipline: deterministic kernel, argmax parity-tested).

    Bit-parity argument, op by op:

    - ``dot``/``norm`` are LEFT-FOLDS (functions/vectors.py): acc
      starts at 0.0 and adds one product per position. The kernel
      accumulates ``acc += V[:, i] * C[:, i]`` position-sequentially
      (vectorized across rows×centroids, scalar-ordered across
      positions) — the identical IEEE-754 multiply/add sequence per
      pair, so every dot, norm, and quotient has the same bit pattern
      the JVM computes (numpy does not fuse multiply-add).
    - Spark's ``round(sim, 6)`` is HALF_UP on the double's shortest
      decimal repr. The kernel rounds ``sim·10⁶`` half-up in binary
      and, for the astronomically-rare values within 1e-7 of a .5
      boundary (binary-vs-repr rounding can only disagree within
      ~1e-10 there), recomputes exactly via
      ``Decimal(repr(sim)).scaleb(6).quantize(HALF_UP)`` — byte-for-
      byte the JVM semantics.
    - The packed-BIGINT argmax (s6-shift encoding, lowest-cent_id
      tiebreak) is replayed in int64 — identical total order.

    Scale shape: the codebook is k-bounded and collected once to the
    driver (the same k-bounded-broadcast contract as the HOF leg's
    ``F.broadcast``), shipped to executors inside the Arrow closure;
    each batch does an O(rows·k·DIM) accumulate chunked to ~32 MB of
    scratch, so executor memory is bounded regardless of batch size;
    ``v`` rides through the kernel, so the n·k fan-out AND the
    corpus-sized re-attach join of the HOF leg both vanish — the
    assignment is a single narrow mapInPandas pass over the corpus
    with zero exchanges."""
    import numpy as np

    rows = sorted(
        cents.select("cent_id", "cv").collect(), key=lambda r: r.cent_id
    )
    if not rows:
        # empty codebook (a tiny corpus can miss every seed residue —
        # ingest_admission_report's 25-vector src0 slice at sf0.01):
        # the HOF leg's inner join against an empty argmax yields an
        # empty assignment; reproduce that exactly.
        return d.select(
            "vec_id", "v", F.lit(0).cast("bigint").alias("cent_id")
        ).limit(0)
    C = np.array([list(r.cv) for r in rows], dtype=np.float64)
    cent_ids = np.array([r.cent_id for r in rows], dtype=np.int64)
    k, dim = C.shape
    nc = np.zeros(k, dtype=np.float64)
    for i in range(dim):
        nc = nc + C[:, i] * C[:, i]
    nc = np.sqrt(nc)
    shift = 1 << 40
    tail_code = shift - 1 - cent_ids  # lowest cent_id wins ties

    def _exact_s6(x: float) -> int:
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            Decimal(repr(float(x)))
            .scaleb(6)
            .quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            V = np.vstack(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            nv = np.zeros(m, dtype=np.float64)
            for i in range(dim):
                nv = nv + V[:, i] * V[:, i]
            nv = np.sqrt(nv)
            best = np.full(m, np.iinfo(np.int64).min, dtype=np.int64)
            row_chunk = max(1, 4_000_000 // k)
            for s in range(0, m, row_chunk):
                e = min(m, s + row_chunk)
                acc = np.zeros((e - s, k), dtype=np.float64)
                for i in range(dim):
                    acc = acc + V[s:e, i : i + 1] * C[None, :, i]
                sim = acc / (nv[s:e, None] * nc[None, :])
                x = sim * 1e6
                s6 = np.where(
                    x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)
                )
                near = np.abs(np.abs(x - np.trunc(x)) - 0.5) < 1e-7
                if near.any():
                    for r_, c_ in np.argwhere(near):
                        s6[r_, c_] = _exact_s6(sim[r_, c_])
                code = (
                    (s6.astype(np.int64) + 1_000_000) * shift
                    + tail_code[None, :]
                )
                best[s:e] = code.max(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "v": pdf["v"],
                    "cent_id": (shift - 1) - (best % shift),
                }
            )

    return d.select("vec_id", "v").mapInPandas(
        kernel, "vec_id bigint, v array<double>, cent_id bigint"
    )


def _lloyd_round_df(d: DataFrame, cents: DataFrame) -> DataFrame:
    """Spark twin of :func:`_lloyd_round_sql` — one Lloyd round.

    Scale shape: assignment is broadcast-codebook + ``max_by`` partial
    agg (C candidate rows per vector collapse map-side); re-centering is
    ``posexplode`` (narrow, DIM rows per vector) + a (cent_id, pos)-keyed
    agg that partially aggregates map-side, then a tiny per-centroid
    regroup bounded by DIM. No driver loop touches data — the round
    count is a fixed plan-construction constant."""
    assign = _assign_nearest(d, cents)
    mean_d = F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count(
        F.lit(1)
    )
    means = (
        assign.select("cent_id", F.posexplode("v").alias("pos", "x"))
        .groupBy("cent_id", "pos")
        .agg(
            F.round(mean_d.cast("decimal(28,12)"), 8)
            .cast("double")
            .alias("m")
        )
    )
    return means.groupBy("cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("cv")
    )


#: Kept: ``perfbench/workloads.py`` counts entries added per IVF call.
_ARTIFACT_MEMO = ARTIFACTS


def _artifact_memo(d: DataFrame, tag: str, build) -> DataFrame:
    """Memoize ``build()`` (a localCheckpointed artifact derived from
    frame ``d``: "train once, persist, share across assignment / IVF
    probing / cell profiling") in ``memo.ARTIFACTS`` per (session, tag,
    analyzed plan, ``input_identity(d)``). Expression ids (#123) and
    lambda-variable suffixes (x_7) are per-construction counters and
    are normalized out of the key."""
    import re as _re

    ident = input_identity(d)
    if ident is None:
        return build()
    app_id = d.sparkSession.sparkContext.applicationId
    plan_key = _re.sub(
        r"#\d+|\bx_\d+",
        "#",
        d._jdf.queryExecution().analyzed().toString(),
    )
    key = (app_id, tag, plan_key, ident)
    return ARTIFACTS.get_or_put(key, build, app_id)


def _trained_cents(d: DataFrame) -> DataFrame:
    """FIXED-k seed codebook (the K_CELLS smallest vec_ids with
    ``vec_id % CENT_MOD == CENT_RESIDUE``) refined by LLOYD_ROUNDS
    deterministic k-means rounds over the 1-in-TRAIN_MOD training
    sample. ``cent_id`` keeps the seed's id as a stable cluster label.

    Scale shape: k ≤ K_CELLS regardless of corpus size, so every
    training round and the downstream full-corpus assignment is
    O(n·k) — linear in n (SCALE.md measures the 10× ratio). The
    trained codebook is localCheckpointed AND memoized per (session,
    input content), so the ops that share it (semantic_dedup,
    similarity_topk_ivf, embedding_kmeans_assign, cell profiles,
    incremental screens) train once and reuse the persisted artifact —
    the deployment contract, practiced by the rig."""
    return _artifact_memo(d, "codebook", lambda: _train_cents(d))


def _seed_cents(d: DataFrame) -> DataFrame:
    """AUTO-k seed codebook (see TARGET_CELL): one scalar COUNT of the
    corpus (runs once per session behind the artifact memo) picks the
    branch both engines encode — the oracle computes the identical
    n/k/modulus arithmetic in SQL (``_trained_cents_sql``'s kp + c0).

    k == K_CELLS (n ≤ K_CELLS·TARGET_CELL): the legacy smallest-
    K_CELLS-qualifying-ids rule, bit-identical to r8. Above the
    crossover: the modulus rule — ~k seeds, no sort, no limit — the
    branch that must hold at 10⁹ vectors, where a sort-limit of
    k ∝ n seeds would be a global sort of 2% of the corpus."""
    n = d.count()
    k = max(K_CELLS, -(-n // TARGET_CELL))
    if k == K_CELLS:
        return (
            d.filter(F.col("vec_id") % CENT_MOD == CENT_RESIDUE)
            .orderBy("vec_id")
            .limit(K_CELLS)
            .select(
                F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
            )
        )
    m = max(1, n // k)
    return d.filter(F.col("vec_id") % m == CENT_RESIDUE % m).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )


def _train_cents(d: DataFrame) -> DataFrame:
    """The actual Lloyd training for :func:`_trained_cents` (always
    reached through the artifact memo)."""
    # The training frames are tiny (1-in-TRAIN_MOD sample; ≤ K_CELLS
    # centroids) — coalesce before materializing so the eager
    # checkpoint and every downstream training stage schedules a
    # handful of tasks instead of one per shuffle partition. Values are
    # unaffected (decimal sums are order-independent).
    sample = (
        d.filter(F.col("vec_id") % TRAIN_MOD == TRAIN_RESIDUE)
        .coalesce(4)
        .localCheckpoint(eager=True)
    )
    cents = _seed_cents(d)
    for _ in range(LLOYD_ROUNDS):
        # Materialize every round: round k's plan references round k-1
        # once per branch, and leaving the chain lazy re-executes the
        # whole prefix each round (measured 3.0 s/round nested vs 0.7 s
        # from a materialized input at sf0.1). Cluster equivalent:
        # persist the (tiny) codebook between iterations.
        cents = (
            _lloyd_round_df(sample, cents)
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return cents


def assigned_corpus(d: DataFrame) -> DataFrame:
    """The corpus's cell-assignment artifact — ``(vec_id, v, cent_id,
    nv)`` with nv = ||v|| factored out once per vector — trained
    codebook applied to every corpus vector, localCheckpointed and
    memoized per (session, input content). Operationally this is the
    SECOND persisted table of a semantic index (next to the codebook):
    dedup, cell profiles, and ingest screens all read it rather than
    re-scoring n·k cosines per query."""
    from ..functions.vectors import norm

    def build() -> DataFrame:
        return (
            _assign_nearest(d, _trained_cents(d))
            .withColumn("nv", norm(F.col("v")))
            .localCheckpoint(eager=True)
        )

    return _artifact_memo(d, "assignment", build)


def _trained_cents_sql() -> str:
    """The matching CTE chain: dtrain + kp (auto-k params) + c0 (seed)
    → c1 → … → cents. ``kp`` derives k = max(K_CELLS, ceil(n /
    TARGET_CELL)) from the corpus count exactly as the Spark side
    does; at k == K_CELLS the seed is the legacy smallest-K_CELLS
    rule (bit-identical to r8), above it the modulus rule."""
    parts = [
        f"""
    dtrain AS (
      SELECT vec_id, v FROM d
      WHERE vec_id % {TRAIN_MOD} = {TRAIN_RESIDUE}
    ),
    kp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             GREATEST(CAST({K_CELLS} AS BIGINT),
                      CAST(CEIL(COUNT(*) / {TARGET_CELL}.0) AS BIGINT))
               AS k
      FROM d
    ),
    c0 AS (
      SELECT cent_id, cv FROM (
        SELECT vec_id AS cent_id, v AS cv,
               row_number() OVER (ORDER BY vec_id) AS __rn
        FROM d WHERE vec_id % {CENT_MOD} = {CENT_RESIDUE}
      ), kp
      WHERE kp.k = {K_CELLS} AND __rn <= {K_CELLS}
      UNION ALL
      SELECT vec_id AS cent_id, v AS cv
      FROM d, kp
      WHERE kp.k > {K_CELLS}
        AND vec_id % GREATEST(1, CAST(FLOOR(CAST(kp.n AS DOUBLE) / kp.k)
                                      AS BIGINT))
            = {CENT_RESIDUE} % GREATEST(1, CAST(FLOOR(CAST(kp.n AS DOUBLE)
                                                      / kp.k) AS BIGINT))
    )"""
    ]
    for i in range(1, LLOYD_ROUNDS + 1):
        parts.append(_lloyd_round_sql(f"c{i - 1}", i))
    parts.append(f"\n    cents AS (SELECT * FROM c{LLOYD_ROUNDS})")
    return ",".join(parts)


@query(
    "similarity_topk_ivf",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
    q AS (SELECT vec_id AS query_id, v AS qv FROM d
          WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT q.query_id, q.qv, cents.cent_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({cosine_oracle_sql('q.qv', 'cents.cv')}, 6)
                            DESC, cents.cent_id) AS prn
        FROM q CROSS JOIN cents
      ) WHERE prn <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             ROUND({cosine_oracle_sql('p.qv', 'a.v')}, 4) AS cos_sim
      FROM probes p JOIN assign a ON a.cent_id = p.cent_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "extension", "ivf"),
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #2: IVF with a TRAINED codebook — a deterministic
    seed (every ``CENT_MOD``-th vector) refined by ``LLOYD_ROUNDS``
    k-means rounds, each corpus vector assigned to its nearest trained
    centroid (the inverted file), queries probe the ``N_PROBE`` nearest
    cells and re-rank exactly inside them.

    The Lloyd re-centering sums components in DECIMAL (exact,
    order-independent) before one final rounding, so the trained
    centroids are bit-identical between Spark and the DuckDB oracle and
    even this approximate variant stays oracle-checked exactly.

    Scale shape: the codebook is tiny → broadcast; assignment is a
    narrow map + ``max_by`` partial agg; re-centering partially
    aggregates on (cent_id, pos); the probe join shuffles on cent_id
    only — the same bucket-join shape as LSH, with data-adaptive
    cells. On a real cluster you would train once, persist the
    codebook, and reuse it across queries (here it is inlined so the
    query stays a single self-contained plan)."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # both artifacts (codebook AND full-corpus assignment) come from
    # the session memo — train/assign once, share across the whole
    # embedding-query family (the r8 persisted-artifact contract)
    return _ivf_search(
        d,
        _trained_cents(d),
        assign=assigned_corpus(d).select("vec_id", "v", "cent_id"),
    )


def _ivf_search(
    d: DataFrame, cents: DataFrame, assign: DataFrame | None = None
) -> DataFrame:
    """Inverted-file probe/re-rank against an arbitrary codebook
    (cent_id, cv) — shared by the trained query and the recall tests'
    untrained-seed control. ``assign`` lets a caller supply a
    precomputed (vec_id, v, cent_id) assignment artifact; when absent
    it is derived from the codebook (the assignment MUST be the
    nearest-``cents`` map for the probe arithmetic to be exact)."""
    if assign is None:
        assign = _assign_nearest(d, cents)
    q = d.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qsim = F.round(cosine(F.col("qv"), F.col("cv")), 6)
    wp = Window.partitionBy("query_id").orderBy(
        qsim.desc(), F.col("cent_id")
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= N_PROBE)
        .select("query_id", "qv", "cent_id")
    )
    scored = (
        F.broadcast(probes)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# X3 — LSH-bucketed approximate top-k ------------------------------------
@query(
    "similarity_topk_lsh",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_lsh_keys_sql()},
    q AS (SELECT vec_id AS query_id, v AS qv, t, bucket FROM keys
          WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT DISTINCT q.query_id, k.vec_id,
             ROUND({cosine_oracle_sql('q.qv', 'k.v')}, 4) AS cos_sim
      FROM q JOIN keys k
        ON k.t = q.t AND k.bucket = q.bucket AND k.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "extension", "lsh"),
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: size-adaptive multi-table hyperplane LSH — plane
    count p grows with corpus size (expected bucket ≤
    LSH_TARGET_BUCKET), recall is recovered with L = 1 + p//4
    independent hash tables; candidates = union of per-table bucket
    matches, deduped, then exact cosine re-rank. p and L are derived
    in-plan from COUNT(*) with the identical rule in the oracle, so
    the adaptive approximation is deterministic and oracle-checked at
    every scale factor (see the module-level LSH note)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # Materialized signature table (see _lsh_keys_df), shared by the
    # query side and the corpus side.
    keys = _lsh_keys_df(emb)
    q = keys.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "t",
        "bucket",
    )
    # Score BEFORE dedup: cosine is deterministic per pair, so the
    # multi-table union dedups on three scalars instead of shuffling
    # two 64-double arrays through a distinct.
    scored = (
        F.broadcast(q)
        .join(keys, ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )


# X3b — semantic clustering of the embedding corpus -----------------------
@query(
    "embedding_kmeans_assign",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_trained_cents_sql()}
    SELECT vec_id, cent_id FROM (
      SELECT d.vec_id, cents.cent_id,
             row_number() OVER (
               PARTITION BY d.vec_id
               ORDER BY ROUND({cosine_oracle_sql('d.v', 'cents.cv')}, 6)
                          DESC, cents.cent_id) AS arn
      FROM d CROSS JOIN cents
    ) WHERE arn = 1
    """,
    tags=("similarity", "extension", "clustering"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering: every corpus vector labeled with its nearest
    trained k-means centroid — the building block for cluster-balanced
    sampling / topic bucketing of a training corpus (and exactly the
    inverted file the IVF search probes).

    Scale shape: identical to the IVF assignment — tiny broadcast
    codebook, narrow map + ``max_by`` partial agg, no shuffle of the
    vectors beyond the per-vec_id argmax combine. Oracle-exact because
    the Lloyd training itself is decimal-exact (see similarity_topk_ivf).
    """
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    # the memoized artifact — the broadcast-argmax plan shape is
    # asserted on the BUILDER (tests/test_plan_shapes.py), which runs
    # once per session; every consumer reads the checkpointed frame
    return assigned_corpus(d).select("vec_id", "cent_id")


# X81 — product quantization (PQ-ADC) top-k -------------------------------
#: PQ geometry: S subspaces × D/S dims, K codes per subspace, R ADC
#: candidates re-ranked exactly.
PQ_S, PQ_D, PQ_K, PQ_R = 8, DIM // 8, 16, 50

_PQ_L2_SQL = (
    "ROUND(list_inner_product("
    "list_transform(list_zip({a}, {b}), x -> x[1] - x[2]), "
    "list_transform(list_zip({a}, {b}), x -> x[1] - x[2])), 6)"
)


def _l2sq(a: F.Column, b: F.Column) -> F.Column:
    """Rounded squared L2 via one zip_with of squared diffs + the same
    deterministic left fold as :func:`dot` — matches the oracle's
    ``list_inner_product`` over the elementwise difference list."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


@query(
    "similarity_topk_pq",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    subs AS (
      SELECT vec_id, s, v[(s*{PQ_D}+1):((s+1)*{PQ_D})] AS subv
      FROM d, UNNEST(range(0, {PQ_S})) AS u(s)
    ),
    codes AS (
      SELECT s, vec_id AS k, subv AS cw FROM subs WHERE vec_id < {PQ_K}
    ),
    enc AS (
      SELECT vec_id, s, k AS code FROM (
        SELECT sub.vec_id, sub.s, c.k,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.s
                 ORDER BY {_PQ_L2_SQL.format(a="sub.subv", b="c.cw")} ASC,
                          c.k ASC) AS rn
        FROM subs sub JOIN codes c ON sub.s = c.s
      ) WHERE rn = 1
    ),
    q AS (
      SELECT vec_id AS query_id, s, subv AS qsub FROM subs
      WHERE vec_id < {N_QUERIES}
    ),
    dtab AS (
      SELECT q.query_id, c.s, c.k,
             CAST(ROUND(list_inner_product(q.qsub, c.cw), 6)
                  AS DECIMAL(18,6)) AS dpart
      FROM q JOIN codes c ON q.s = c.s
    ),
    adc AS (
      SELECT t.query_id, e.vec_id, SUM(t.dpart) AS approx
      FROM enc e JOIN dtab t ON t.s = e.s AND t.k = e.code
      WHERE e.vec_id <> t.query_id
      GROUP BY t.query_id, e.vec_id
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY approx DESC, vec_id) AS rn
        FROM adc
      ) WHERE rn <= {PQ_R}
    )
    SELECT query_id, vec_id, dot_sim FROM (
      SELECT ca.query_id, ca.vec_id,
             ROUND(list_inner_product(dq.v, dv.v), 4) AS dot_sim,
             row_number() OVER (
               PARTITION BY ca.query_id
               ORDER BY ROUND(list_inner_product(dq.v, dv.v), 4) DESC,
                        ca.vec_id) AS rn
      FROM cand ca
      JOIN d dq ON dq.vec_id = ca.query_id
      JOIN d dv ON dv.vec_id = ca.vec_id
    ) WHERE rn <= {TOP_K}
    """,
    tags=("similarity", "extension", "pq"),
)
def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #3: PRODUCT QUANTIZATION (Jégou et al. 2011) with
    asymmetric distance computation — the memory-bound ANN technique
    IVF and LSH don't cover: each vector is compressed to {PQ_S} code
    bytes ({PQ_S} subspaces × {PQ_K}-entry codebooks, codes assigned by
    nearest-subvector L2), queries score candidates from a per-query
    {PQ_S}×{PQ_K} lookup table of partial dot products (ADC for
    max-inner-product search), and the top {PQ_R} ADC candidates are
    re-ranked exactly. Deterministic codebooks (subvectors of
    vec_id < {PQ_K}) + per-partial DECIMAL rounding keep even this
    three-stage approximation bit-exact against the oracle.

    Scale shape: the corpus pass stores {PQ_S} bytes/vector (the
    inverted-file companion to IVF); the ADC join probes a broadcast
    1024-entry table; re-rank touches only R candidates per query. At
    100 TB: encode once, persist codes, broadcast per-query tables —
    the corpus raw vectors are read only for the R-candidate re-rank."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    subs = d.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_S - 1)),
                lambda s: F.slice(F.col("v"), s * PQ_D + 1, PQ_D),
            )
        ).alias("s", "subv"),
    )
    codes = subs.filter(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("k"), F.col("subv").alias("cw")
    )
    enc = (
        subs.join(F.broadcast(codes), "s")
        .select(
            "vec_id",
            "s",
            "k",
            _l2sq(F.col("subv"), F.col("cw")).alias("l2"),
        )
        .groupBy("vec_id", "s")
        .agg(
            F.max_by("k", F.struct(-F.col("l2"), -F.col("k"))).alias("code")
        )
    )
    qsubs = subs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", F.col("subv").alias("qsub")
    )
    dtab = qsubs.join(F.broadcast(codes), "s").select(
        "query_id",
        "s",
        "k",
        F.round(dot(F.col("qsub"), F.col("cw")), 6)
        .cast("decimal(18,6)")
        .alias("dpart"),
    )
    adc = (
        enc.join(
            F.broadcast(dtab),
            (enc.s == dtab.s) & (enc.code == dtab.k),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dpart").alias("approx"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), "vec_id"
    )
    cand = (
        adc.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= PQ_R)
        .select("query_id", "vec_id")
    )
    dq = d.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    dv = d.select("vec_id", "v")
    exact = F.round(dot(F.col("qv"), F.col("v")), 4)
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("dot_sim"), "vec_id"
    )
    return (
        cand.join(F.broadcast(dq), "query_id")
        .join(dv, "vec_id")
        .select("query_id", "vec_id", exact.alias("dot_sim"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "vec_id", "dot_sim")
    )


# X93 — cluster-balanced sampling (per-cell caps in embedding space) ----
#: at most this many vectors kept per k-means cell, most-central first.
CELL_CAP = 25


def _cluster_balanced_oracle() -> str:
    cos = cosine_oracle_sql("d.v", "cents.cv")
    return f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_trained_cents_sql()},
    assign AS (
      SELECT vec_id, cent_id, sim FROM (
        SELECT d.vec_id, cents.cent_id,
               ROUND({cos}, 6) AS sim,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, cents.cent_id) AS arn
        FROM d CROSS JOIN cents
      ) WHERE arn = 1
    )
    SELECT vec_id, cent_id, sim, CAST(rk AS BIGINT) AS rk FROM (
      SELECT vec_id, cent_id, sim,
             row_number() OVER (PARTITION BY cent_id
                                ORDER BY sim DESC, vec_id) AS rk
      FROM assign
    ) WHERE rk <= {CELL_CAP}
    """


@query(
    "cluster_balanced_sample",
    oracle=_cluster_balanced_oracle(),
    tags=("similarity", "sampling", "extension", "clustering"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93: cluster-balanced sampling — at most ``CELL_CAP`` vectors
    kept per trained k-means cell, most-central first (rounded cosine
    to the cell centroid, vec_id tiebreak). The embedding-space analog
    of ``domain_cap_sample``: stops one semantic topic from dominating
    a training mixture the way domain caps stop one crawl host
    (the cluster-balanced-sampling use the ``embedding_kmeans_assign``
    docstring promises, delivered as a first-class operator).

    Scale shape: assignment is the broadcast-codebook ``max_by`` map;
    the per-cell rank is a ``row_number`` window with its filter
    directly above → map-side WindowGroupLimit (each task ships at
    most CAP rows per cell). Nothing all-pairs, nothing global."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    from ..functions.vectors import dot, norm

    cents = _trained_cents(d)
    dn = d.select("vec_id", "v", norm(F.col("v")).alias("nv"))
    cn = cents.select("cent_id", "cv", norm(F.col("cv")).alias("nc"))
    sim = F.round(
        dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("nc")), 6
    )
    assign = (
        dn.join(F.broadcast(cn))
        .select("vec_id", "cent_id", sim.alias("s"))
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("s"), (-F.col("cent_id")).alias("nc"))).alias(
                "best"
            )
        )
        .select(
            "vec_id",
            (-F.col("best.nc")).alias("cent_id"),
            F.col("best.s").alias("sim"),
        )
    )
    w = Window.partitionBy("cent_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        assign.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= CELL_CAP)
    )


# X98 — semantic cell profile (cluster audit: language/source/quality) ---
def _cell_profile_oracle() -> str:
    from .textstats import classifier_sql

    cos = cosine_oracle_sql("d.v", "cents.cv")
    return f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_trained_cents_sql()},
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT d.vec_id, cents.cent_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, cents.cent_id) AS arn
        FROM d CROSS JOIN cents
      ) WHERE arn = 1
    ),
    cls AS ({classifier_sql(feature_cols=False)}),
    lab AS (
      SELECT a.cent_id, doc.lang, c.score
      FROM assign a
      JOIN documents doc ON doc.doc_id = a.vec_id
      JOIN cls c ON c.doc_id = a.vec_id
    ),
    lc AS (
      SELECT cent_id, lang, COUNT(*) AS n FROM lab GROUP BY cent_id, lang
    ),
    top AS (
      SELECT cent_id, lang AS top_lang FROM (
        SELECT cent_id, lang,
               row_number() OVER (PARTITION BY cent_id
                                  ORDER BY n DESC, lang) AS rn
        FROM lc
      ) WHERE rn = 1
    )
    SELECT l.cent_id, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT l.lang) AS BIGINT) AS n_langs,
           t.top_lang,
           CAST(ROUND(CAST(
             CAST(SUM(CAST(l.score AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS mean_score
    FROM lab l JOIN top t ON l.cent_id = t.cent_id
    GROUP BY l.cent_id, t.top_lang
    """


@query(
    "semantic_cell_profile",
    oracle=_cell_profile_oracle(),
    tags=("similarity", "clustering", "quality", "extension"),
)
def semantic_cell_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: cross-modal cluster audit — every trained k-means cell
    profiled against the DOCUMENT side of the corpus (embeddings.vec_id
    aligns 1:1 with documents.doc_id in the driver testdata): docs per
    cell, language diversity, dominant language (count-desc, lang-asc
    tiebreak), and mean classifier quality score. The report a curation
    team reads before deciding per-cluster sampling rates
    (``cluster_balanced_sample``) or dropping low-quality cells.

    Scale shape: assignment is the broadcast-codebook argmax; the
    embeddings↔documents join is doc-keyed (hash join of two
    corpus-sized sides — the one unavoidable cross-modal shuffle, and
    it carries only (id, cent_id, lang, one double), never text or
    vectors); per-cell rollups partially aggregate; the cell×lang top
    table is cell-bounded and broadcasts back. Mean score sums exact
    DECIMAL(18,4) terms → order-independent."""
    from .textstats import classifier_frame

    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    assign = assigned_corpus(d).select("vec_id", "cent_id")
    docs = load_table(spark, sf_dir, "documents")
    cls = classifier_frame(docs, feature_cols=False).select(
        "doc_id", "score"
    )
    lab = (
        assign.withColumnRenamed("vec_id", "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .join(cls, "doc_id")
    )
    lc = lab.groupBy("cent_id", "lang").agg(F.count(F.lit(1)).alias("n"))
    top = lc.groupBy("cent_id").agg(
        F.min_by("lang", F.struct((-F.col("n")).alias("nn"), "lang")).alias(
            "top_lang"
        )
    )
    stats = lab.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(
            (
                F.sum(F.col("score").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).cast("decimal(28,10)"),
            4,
        )
        .cast("double")
        .alias("mean_score"),
    )
    return stats.join(F.broadcast(top), "cent_id").select(
        "cent_id", "n_docs", "n_langs", "top_lang", "mean_score"
    )


# X112 — cross-modal alignment audit (doc quality vs embedding cell) -----
#: Margin for "this document's text quality disagrees with its
#: semantic cell": |score - cell mean| above this flags the doc for
#: human curation review.
CM_DELTA = 0.08


def _alignment_audit_oracle() -> str:
    from .textstats import classifier_sql

    cos = cosine_oracle_sql("d.v", "cents.cv")
    return f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_trained_cents_sql()},
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT d.vec_id, cents.cent_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, cents.cent_id) AS arn
        FROM d CROSS JOIN cents
      ) WHERE arn = 1
    ),
    cls AS ({classifier_sql(feature_cols=False)}),
    lab AS (
      SELECT a.cent_id, c.doc_id, c.score
      FROM assign a JOIN cls c ON c.doc_id = a.vec_id
    ),
    cm AS (
      SELECT cent_id,
             CAST(ROUND(CAST(
               CAST(SUM(CAST(score AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS cell_mean_score
      FROM lab GROUP BY cent_id
    )
    SELECT l.doc_id, l.cent_id, l.score, cm.cell_mean_score,
           CASE WHEN l.score > cm.cell_mean_score
                THEN 'above_cell' ELSE 'below_cell' END AS direction
    FROM lab l JOIN cm ON cm.cent_id = l.cent_id
    WHERE ABS(l.score - cm.cell_mean_score) > {CM_DELTA}
    """


@query(
    "cross_modal_alignment_audit",
    oracle=_alignment_audit_oracle(),
    tags=("similarity", "clustering", "quality", "audit", "extension"),
)
def cross_modal_alignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112: the cross-modal DISAGREEMENT report behind
    human-in-the-loop curation review (embeddings.vec_id aligns 1:1
    with documents.doc_id): documents whose TEXT-side quality score
    deviates from their EMBEDDING cell's mean score by more than
    ``CM_DELTA`` — high-quality text stranded in a low-quality
    semantic cell (a cell-level drop would lose it) and vice versa
    (a cell-level keep would admit junk). Reuses the registered
    classifier and cell-assignment fragments verbatim (the
    ``dedup_audit_report`` embedded-oracle discipline), so the audit
    cannot drift from the operators it audits.

    Scale shape: assignment is the broadcast-codebook argmax; the one
    cross-modal join is doc-keyed and carries (id, cent_id, one
    double); cell means are cell-bounded and broadcast back. Both
    sides of the comparison are exact 4-dp-rounded doubles, so the
    margin test is bit-deterministic across engines."""
    from .textstats import classifier_frame

    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    assign = assigned_corpus(d).select("vec_id", "cent_id")
    docs = load_table(spark, sf_dir, "documents")
    cls = classifier_frame(docs, feature_cols=False).select("doc_id", "score")
    lab = assign.withColumnRenamed("vec_id", "doc_id").join(cls, "doc_id")
    cm = lab.groupBy("cent_id").agg(
        F.round(
            (
                F.sum(F.col("score").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).cast("decimal(28,10)"),
            4,
        )
        .cast("double")
        .alias("cell_mean_score")
    )
    diff = F.col("score") - F.col("cell_mean_score")
    return (
        lab.join(F.broadcast(cm), "cent_id")
        .filter(F.abs(diff) > CM_DELTA)
        .select(
            "doc_id",
            "cent_id",
            "score",
            "cell_mean_score",
            F.when(diff > 0, "above_cell")
            .otherwise("below_cell")
            .alias("direction"),
        )
    )


# X114 — semantic drift report (source composition per cell) --------------
def _drift_oracle() -> str:
    cos = cosine_oracle_sql("d.v", "cents.cv")
    return f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_trained_cents_sql()},
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT d.vec_id, cents.cent_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, cents.cent_id) AS arn
        FROM d CROSS JOIN cents
      ) WHERE arn = 1
    ),
    lab AS (
      SELECT a.cent_id,
             CASE WHEN doc.source = 'src0' THEN 1 ELSE 0 END AS is_corpus
      FROM assign a JOIN documents doc ON doc.doc_id = a.vec_id
    )
    SELECT cent_id,
           CAST(SUM(is_corpus) AS BIGINT) AS n_corpus,
           CAST(SUM(1 - is_corpus) AS BIGINT) AS n_new,
           CAST(ROUND(CAST(
             CAST(SUM(1 - is_corpus) AS DOUBLE) / COUNT(*)
           AS DECIMAL(28,10)), 4) AS DOUBLE) AS new_share
    FROM lab
    GROUP BY cent_id
    """


@query(
    "semantic_drift_report",
    oracle=_drift_oracle(),
    tags=("similarity", "clustering", "audit", "extension"),
)
def semantic_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114: SEMANTIC DRIFT monitoring — per trained k-means cell, how
    the standing corpus (src0) and newly ingested sources split its
    population. Cells with ``new_share`` near 1 are semantic regions
    the corpus never covered (the incoming distribution moved —
    retrain/resample triggers); near 0 means the ingest adds nothing
    new there. The report the incremental trio's operators
    (``incremental_semantic_update``) assume someone is watching.

    Scale shape: assignment is the broadcast-codebook argmax; one
    doc-keyed join carries (id, cent_id, source-bit); per-cell rollup
    partially aggregates. Integer sums → exact parity; the share is
    one guarded decimal division."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    assign = assigned_corpus(d).select("vec_id", "cent_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("is_corpus"),
    )
    lab = assign.withColumnRenamed("vec_id", "doc_id").join(docs, "doc_id")
    return lab.groupBy("cent_id").agg(
        F.sum("is_corpus").cast("bigint").alias("n_corpus"),
        F.sum(1 - F.col("is_corpus")).cast("bigint").alias("n_new"),
        F.round(
            (
                F.sum(1 - F.col("is_corpus")).cast("double")
                / F.count(F.lit(1))
            ).cast("decimal(28,10)"),
            4,
        )
        .cast("double")
        .alias("new_share"),
    )


# X118 — embedding near-dup via hyperplane-LSH blocking + exact verify ----
#: Same cosine floor as the label-blocked ``near_dup_embedding``
#: (dedup.py), so the two blocking strategies are comparable.
EMB_LSH_COS = 0.30


def _emb_lsh_pairs_oracle() -> str:
    cos = cosine_oracle_sql("da.v", "db.v")
    return f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_lsh_keys_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM keys a
      JOIN keys b ON a.t = b.t AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND({cos}, 4) AS cos_sim
    FROM cand
    JOIN d da ON da.vec_id = vec_a
    JOIN d db ON db.vec_id = vec_b
    WHERE ROUND({cos}, 4) >= {EMB_LSH_COS}
    """


@query(
    "embedding_neardup_lsh",
    oracle=_emb_lsh_pairs_oracle(),
    tags=("similarity", "dedup", "extension", "lsh"),
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118: embedding-space near-dup the way it SHIPS — hyperplane-LSH
    bucket blocking (the seeded, oracle-exact family of
    ``similarity_topk_lsh``) generates candidate pairs, exact cosine
    verifies — completing the blocked-pair story:
    ``near_dup_embedding`` blocks by label (the testdata stand-in),
    this one by the actual geometry, with NO all-pairs path at any
    scale (candidates ∝ bucket collisions).

    Scale shape: bucket keys are a narrow map off the persisted
    signature table; the candidate self-join is an equi-join on
    (table, bucket); the verify joins vectors back by id WITHOUT
    broadcast hints (corpus-sized sides — AQE broadcasts the bounded
    candidate list instead). Both engines derive p/L from the same
    corpus-count rule and round cosines to 4 dp, so the threshold
    boundary is engine-identical."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    keys = _lsh_keys_df(d).select("vec_id", "t", "bucket")
    a = keys.select(F.col("vec_id").alias("vec_a"), "t", "bucket")
    b = keys.select(F.col("vec_id").alias("vec_b"), "t", "bucket")
    cand = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    da = d.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    db = d.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = F.round(cosine(F.col("va"), F.col("vb")), 4)
    return (
        cand.join(da, "vec_a")
        .join(db, "vec_b")
        .filter(cos >= EMB_LSH_COS)
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
    )


# X129 — cell-bounded k-NN graph ------------------------------------------
KNN_K = 3

#: the full kNN-graph oracle — a standalone statement, reused as a
#: subquery by the triangle census (X251)
_KNN_ORACLE = f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
    pairs AS (
      SELECT a.vec_id, b.vec_id AS nbr_id,
             ROUND({cosine_oracle_sql('a.v', 'b.v')}, 4) AS cos_sim
      FROM assign a JOIN assign b
        ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, nbr_id, CAST(rn AS BIGINT) AS rank, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, nbr_id) AS rn
      FROM pairs
    ) WHERE rn <= {KNN_K}
    """


@query(
    "knn_graph_cells",
    oracle=_KNN_ORACLE,
    tags=("similarity", "graph", "extension"),
)
def knn_graph_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X129: the k-NN GRAPH (each vector's {KNN_K} nearest neighbors),
    cell-bounded — the data structure semantic-dedup clustering,
    mutual-kNN community detection, and diversity sampling all consume.
    Exact all-pairs kNN is O(n²); here neighbors are searched INSIDE
    each vector's trained IVF cell (SemDeDup's within-cluster
    discipline, the same codebook the whole similarity family
    shares), so the edge a cell cannot see (a true neighbor assigned
    elsewhere) is traded for candidates ∝ n · cell_size.

    Scale shape: assignment is the broadcast-codebook narrow map +
    ``max_by`` partial agg; the self-join shuffles BOTH sides on
    cent_id only (cell-bounded pair fan-out, never all-pairs — the
    no-all-pairs plan sweep covers it); top-{KNN_K} per vector is a
    ranking window PARTITIONED by vec_id over candidate rows only. The
    assignment subtree is materialized once (referenced by both join
    sides; on a cluster: train/assign once, persist, reuse). Since r11
    the finished graph is itself the THIRD memoized artifact of the
    semantic index (codebook → assignment → kNN graph — scalar rows
    only, (bigint, bigint, bigint, double)): the triangle census and
    the label-propagation family read the checkpointed graph instead
    of replaying the pair join + ranking per consumer."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    return _artifact_memo(
        d,
        "knn_graph",
        lambda: _knn_graph_build(d).localCheckpoint(eager=True),
    )


def _knn_graph_build(d: DataFrame) -> DataFrame:
    """The kNN-graph BUILDER plan (cell-bounded pair join + per-vector
    ranking) — the frame the cell-bounded/WindowGroupLimit plan
    assertions target, since the registered query returns the memoized
    checkpoint (tests/test_plan_shapes.py, the r8 builder-assert
    discipline)."""
    # the shared memoized assignment artifact (r8): same checkpointed
    # frame every embedding op reads — train/assign once per session
    assign = assigned_corpus(d).select("vec_id", "v", "cent_id")
    a = assign.select(F.col("vec_id"), F.col("v").alias("va"), "cent_id")
    b = assign.select(
        F.col("vec_id").alias("nbr_id"), F.col("v").alias("vb"), "cent_id"
    )
    cos = F.round(cosine(F.col("va"), F.col("vb")), 4)
    pairs = (
        a.join(b, "cent_id")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "nbr_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("nbr_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", "nbr_id", "rank", "cos_sim")
    )


# X178 — PQ quantization-distortion calibration -----------------------------
@query(
    "pq_distortion_report",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    subs AS (
      SELECT vec_id, s, v[(s*{PQ_D}+1):((s+1)*{PQ_D})] AS subv
      FROM d, UNNEST(range(0, {PQ_S})) AS u(s)
    ),
    codes AS (
      SELECT s, vec_id AS k, subv AS cw FROM subs WHERE vec_id < {PQ_K}
    ),
    assign AS (
      SELECT vec_id, s, k, l2 FROM (
        SELECT sub.vec_id, sub.s, c.k,
               CAST({_PQ_L2_SQL.format(a="sub.subv", b="c.cw")}
                    AS DECIMAL(18,6)) AS l2,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.s
                 ORDER BY {_PQ_L2_SQL.format(a="sub.subv", b="c.cw")} ASC,
                          c.k ASC) AS rn
        FROM subs sub JOIN codes c ON sub.s = c.s
      ) WHERE rn = 1
    )
    SELECT CAST(s AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS codes_used,
           CAST(ROUND(CAST(
             CAST(SUM(l2) AS DOUBLE) / COUNT(*)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS mse,
           CAST(MAX(l2) AS DOUBLE) AS max_sq_err
    FROM assign GROUP BY s
    """,
    tags=("similarity", "audit", "extension"),
)
def pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X178: PQ DISTORTION calibration — the audit the PQ index (X3
    scale path #3, similarity_topk_pq) ships with: per subspace, the
    mean and max squared quantization error of the assigned codewords
    and how many of the {PQ_K} codes are actually used. Rising MSE or
    collapsed code utilization is the re-train signal for the
    codebooks (the X135/X147 calibration discipline applied to the
    vector-compression sketch); the per-subspace breakdown localizes
    WHICH dimensions the codebook no longer covers.

    Shares the registered PQ fragments verbatim: identical subspace
    split, identical deterministic codebooks, identical rounded-L2
    assignment — so the report audits exactly the index the search
    operator uses.

    Plan: one corpus pass splits subvectors (narrow posexplode); the
    {PQ_S}x{PQ_K} codebook broadcasts; assignment partial-aggregates
    to |vectors|x{PQ_S} best-code rows and the report reduces to
    {PQ_S} rows. Exact decimal sums of the 6-dp-rounded errors."""
    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    subs = d.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_S - 1)),
                lambda s: F.slice(F.col("v"), s * PQ_D + 1, PQ_D),
            )
        ).alias("s", "subv"),
    )
    codes = subs.filter(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("k"), F.col("subv").alias("cw")
    )
    assign = (
        subs.join(F.broadcast(codes), "s")
        .select(
            "vec_id",
            "s",
            "k",
            _l2sq(F.col("subv"), F.col("cw"))
            .cast("decimal(18,6)")
            .alias("l2"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("l2", "k")).alias("best"))
        .select(
            "s",
            F.col("best.k").alias("k"),
            F.col("best.l2").alias("l2"),
        )
    )
    return assign.groupBy(F.col("s").cast("bigint").alias("s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.count_distinct("k").cast("bigint").alias("codes_used"),
        F.round(
            (
                F.sum("l2").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(28,10)"),
            6,
        )
        .cast("double")
        .alias("mse"),
        F.max("l2").cast("double").alias("max_sq_err"),
    )


# X208 — embedding norm audit -------------------------------------------------
#: robust-ish outlier gate: |norm - mean| > NORM_Z_LIMIT * std.
NORM_Z_LIMIT = 2.0


@query(
    "embedding_norm_audit",
    oracle=f"""
    WITH nrm AS (
      SELECT label,
             CAST(ROUND(CAST(sqrt(list_inner_product(
                    CAST(embedding AS DOUBLE[]),
                    CAST(embedding AS DOUBLE[])))
                  AS DECIMAL(18,12)), 12) AS DECIMAL(18,12)) AS nr
      FROM embeddings
    ),
    stats AS (
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(nr) AS DECIMAL(38,12)) AS s1,
             CAST(SUM(CAST(ROUND(CAST(nr * nr AS DECIMAL(18,12)), 12)
                           AS DECIMAL(18,12))) AS DECIMAL(38,12)) AS s2
      FROM nrm
      GROUP BY label
    ),
    m AS (
      SELECT label, n_vecs,
             CAST(s1 AS DOUBLE) / n_vecs AS mean_norm,
             sqrt(GREATEST(
               CAST(s2 AS DOUBLE) / n_vecs
               - (CAST(s1 AS DOUBLE) / n_vecs)
                 * (CAST(s1 AS DOUBLE) / n_vecs), 0.0)) AS std_norm
      FROM stats
    )
    SELECT m.label, m.n_vecs,
           CAST(ROUND(CAST(m.mean_norm AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS mean_norm,
           CAST(ROUND(CAST(m.std_norm AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS std_norm,
           CAST(SUM(CASE WHEN abs(CAST(nrm.nr AS DOUBLE) - m.mean_norm)
                              > {NORM_Z_LIMIT} * m.std_norm
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM m JOIN nrm ON nrm.label = m.label
    GROUP BY 1, 2, 3, 4
    """,
    tags=("similarity", "audit", "extension"),
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X208: EMBEDDING NORM audit per label — mean/std of vector norms
    plus the count of {NORM_Z_LIMIT}σ outliers. The embedding-quality
    gate in front of every cosine-based operator in this engine: a
    label whose norms have collapsed (dead encoder) or exploded
    (un-normalized batch) poisons cosine ranking, and this report is
    how that surfaces BEFORE similarity_topk/semantic_dedup consume
    the table.

    Float discipline: each norm (and its square) is rounded to 12-dp
    DECIMAL before the group sums (order-free reduction, the psi
    idiom); mean/std come off the decimal sums in one shared IEEE
    expression; the z-gate compares against the UNROUNDED mean/std so
    both engines gate identical rows.

    Plan: norms are narrow JVM HOF folds fused into the scan; one
    label-keyed partial agg builds the stats; the stats frame
    (|labels| rows) broadcasts back onto the norm rows for the
    outlier count — the anomaly_zscore shape. No collect, no global
    window."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    nr = F.round(F.sqrt(dot(v, v)).cast("decimal(18,12)"), 12).cast(
        "decimal(18,12)"
    )
    nrm = emb.select("label", nr.alias("nr")).localCheckpoint(eager=True)
    stats = nrm.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("nr").cast("decimal(38,12)").alias("s1"),
        F.sum(
            F.round(
                (F.col("nr") * F.col("nr")).cast("decimal(18,12)"), 12
            ).cast("decimal(18,12)")
        )
        .cast("decimal(38,12)")
        .alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_vecs")
    std = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n_vecs") - mean * mean,
            F.lit(0.0),
        )
    )
    m = stats.select(
        F.col("label").alias("m_label"),
        "n_vecs",
        mean.alias("mean_norm_raw"),
        std.alias("std_norm_raw"),
    )
    joined = nrm.join(
        F.broadcast(m), nrm.label == F.col("m_label")
    )
    out_flag = F.when(
        F.abs(F.col("nr").cast("double") - F.col("mean_norm_raw"))
        > F.lit(NORM_Z_LIMIT) * F.col("std_norm_raw"),
        1,
    ).otherwise(0)
    return joined.groupBy(
        "label",
        "n_vecs",
        F.round(F.col("mean_norm_raw").cast("decimal(28,10)"), 6)
        .cast("double")
        .alias("mean_norm"),
        F.round(F.col("std_norm_raw").cast("decimal(28,10)"), 6)
        .cast("double")
        .alias("std_norm"),
    ).agg(F.sum(out_flag).cast("bigint").alias("n_outliers"))


# X222-X223 — embedding-space evaluation ---------------------------------------
from ..registry import _REGISTRY as _R  # noqa: E402  (fragments above)

#: dead-dimension gate: per-dimension std below this is "dead".
DIM_DEAD_STD = 1e-6


@query(
    "embedding_dimension_profile",
    oracle=f"""
    WITH d AS (SELECT CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    e AS (
      SELECT u.i AS dim,
             CAST(ROUND(CAST(ve[u.i] AS DECIMAL(18,12)), 12)
                  AS DECIMAL(18,12)) AS v
      FROM d, UNNEST(range(1, len(ve) + 1)) AS u(i)
    ),
    s AS (
      SELECT dim,
             CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(v) AS DECIMAL(38,12)) AS s1,
             CAST(SUM(CAST(ROUND(CAST(v * v AS DECIMAL(18,12)), 12)
                           AS DECIMAL(18,12))) AS DECIMAL(38,12)) AS s2
      FROM e GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n_vecs,
      CAST(ROUND(CAST(CAST(s1 AS DOUBLE) / n_vecs
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS mean_val,
      CAST(ROUND(CAST(
        sqrt(GREATEST(CAST(s2 AS DOUBLE) / n_vecs
             - (CAST(s1 AS DOUBLE) / n_vecs)
               * (CAST(s1 AS DOUBLE) / n_vecs), 0.0))
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS std_val,
      sqrt(GREATEST(CAST(s2 AS DOUBLE) / n_vecs
           - (CAST(s1 AS DOUBLE) / n_vecs)
             * (CAST(s1 AS DOUBLE) / n_vecs), 0.0)) < {DIM_DEAD_STD}
        AS is_dead
    FROM s
    """,
    tags=("similarity", "audit", "extension"),
)
def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X222: per-DIMENSION embedding profile — mean, std and a
    dead-dimension verdict for each of the 64 coordinates.
    embedding_norm_audit (X208) is the ROW-wise gate (bad vectors);
    this is the COLUMN-wise one: a dimension whose variance collapsed
    carries no information (wasted PQ/IVF budget), and a strongly
    off-center mean says the encoder output was never centered —
    both invisible to norm checks.

    Float discipline: each element (and its square) rounds to 12-dp
    DECIMAL before the per-dimension sums (order-free); mean/std are
    one shared IEEE expression; the dead gate compares the UNROUNDED
    std on both engines.

    Plan: posexplode is a narrow row-expansion (|vecs|·64 rows of
    (dim, 12-dp decimal)); one dim-keyed partial agg — 64 groups at
    any corpus size. At 100 TB you would pre-fold per-partition sum
    vectors with a zip_with aggregate; the dim-keyed agg here keeps
    the plan one exchange and the arithmetic identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.posexplode(as_double(F.col("embedding"))).alias("dim0", "x")
    ).select(
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("decimal(18,12)"), 12)
        .cast("decimal(18,12)")
        .alias("v"),
    )
    s = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("v").cast("decimal(38,12)").alias("s1"),
        F.sum(
            F.round((F.col("v") * F.col("v")).cast("decimal(18,12)"), 12)
            .cast("decimal(18,12)")
        )
        .cast("decimal(38,12)")
        .alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_vecs")
    std = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n_vecs") - mean * mean,
            F.lit(0.0),
        )
    )
    return s.select(
        "dim",
        "n_vecs",
        F.round(mean.cast("decimal(28,10)"), 6)
        .cast("double")
        .alias("mean_val"),
        F.round(std.cast("decimal(28,10)"), 6)
        .cast("double")
        .alias("std_val"),
        (std < DIM_DEAD_STD).alias("is_dead"),
    )


@query(
    "ann_recall_report",
    oracle=f"""
    WITH ex AS (
      SELECT query_id, vec_id FROM ({_R["similarity_topk"].oracle})
    ),
    ap AS (
      SELECT query_id, vec_id FROM ({_R["similarity_topk_lsh"].oracle})
    ),
    n_ex AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_exact
      FROM ex GROUP BY query_id
    ),
    hit AS (
      SELECT ex.query_id, CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hit
      FROM ex LEFT JOIN ap
        ON ap.query_id = ex.query_id AND ap.vec_id = ex.vec_id
      GROUP BY ex.query_id
    )
    SELECT n.query_id, n.k_exact, h.n_hit,
      CAST(ROUND(CAST(CAST(h.n_hit AS DOUBLE) / n.k_exact
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS recall_at_k
    FROM n_ex n JOIN hit h ON h.query_id = n.query_id
    """,
    tags=("similarity", "evaluation", "extension"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X223: ANN RECALL@K report — per query, how much of the EXACT
    cosine top-{TOP_K} the LSH index actually returned. The
    classifier-evaluation discipline (X214-X217) applied to the ANN
    family: tests/test_similarity_recall.py asserts a recall FLOOR in
    CI; this op makes the full per-query recall table a first-class,
    oracle-checked artifact the index-tuning loop reads (which queries
    fall below floor, and by how much). Embeds the two registered
    fragments verbatim, so the report cannot drift from the operators
    it measures.

    Plan: both fragments keep their registered shapes (broadcast query
    side / bucket equi-join); the comparison itself is one
    query-keyed left join of two ≤|queries|·K frames plus a
    |queries|-group agg — evaluation cost is negligible against the
    candidates it audits."""
    ex = similarity_topk(spark, sf_dir).select("query_id", "vec_id")
    ap = similarity_topk_lsh(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    n_ex = ex.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_exact")
    )
    hit = (
        ex.join(
            ap,
            (F.col("a_qid") == F.col("query_id"))
            & (F.col("a_vid") == F.col("vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count(F.col("a_vid")).cast("bigint").alias("n_hit"))
    )
    return n_ex.join(hit, "query_id").select(
        "query_id",
        "k_exact",
        "n_hit",
        F.round(
            (
                F.col("n_hit").cast("double")
                / F.col("k_exact").cast("double")
            ).cast("decimal(28,10)"),
            6,
        )
        .cast("double")
        .alias("recall_at_k"),
    )


# X230 — top principal component via power iteration ----------------------------
#: unrolled power-iteration rounds (the bpe_train_merges convention:
#: fixed public round count, oracle unrolled to match).
PC_ITERS = 3
#: deterministic start vector element: [1/8]*64 is exactly unit-norm
#: in binary (64 · 0.125² = 1.0), so iteration 1 is bit-determined.
PC_V0 = 0.125


def _pc_oracle() -> str:
    r12 = (
        lambda e: f"CAST(ROUND(CAST({e} AS DECIMAL(18,12)), 12) "
        "AS DECIMAL(18,12))"
    )
    blocks = [
        f"""
    d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
          FROM embeddings),
    e AS (
      SELECT vec_id, u.i AS dim, ve[u.i] AS x
      FROM d, UNNEST(range(1, len(ve) + 1)) AS u(i)
    ),
    v0 AS (SELECT DISTINCT dim, CAST({PC_V0} AS DOUBLE) AS v FROM e)
    """
    ]
    prev = "v0"
    for t in range(1, PC_ITERS + 1):
        blocks.append(
            f"""
    p{t} AS (
      SELECT e.vec_id,
             CAST(SUM({r12('e.x * v.v')}) AS DECIMAL(38,12)) AS pd
      FROM e JOIN {prev} v ON v.dim = e.dim
      GROUP BY e.vec_id
    ),
    w{t} AS (
      SELECT e.dim,
             CAST(SUM({r12('e.x * CAST(p.pd AS DOUBLE)')})
                  AS DECIMAL(38,12)) AS wd
      FROM e JOIN p{t} p ON p.vec_id = e.vec_id
      GROUP BY e.dim
    ),
    l{t} AS (
      SELECT sqrt(CAST(SUM({r12(
          'CAST(wd AS DOUBLE) * CAST(wd AS DOUBLE)')})
          AS DOUBLE)) AS lam
      FROM w{t}
    ),
    v{t} AS (
      SELECT w.dim,
             CAST({r12('CAST(w.wd AS DOUBLE) / l.lam')} AS DOUBLE) AS v
      FROM w{t} w CROSS JOIN l{t} l
    )
    """
        )
        prev = f"v{t}"
    last = PC_ITERS
    return (
        "WITH "
        + ",".join(blocks)
        + f""",
    tot AS (
      SELECT CAST(SUM({r12('x * x')}) AS DECIMAL(38,12)) AS ss,
             CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n
      FROM e
    )
    SELECT v.dim AS dim,
           CAST(ROUND(CAST(v.v AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS loading,
           CAST(ROUND(CAST(l.lam / t.n AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS eigenvalue,
           CAST(ROUND(CAST(l.lam / CAST(t.ss AS DOUBLE)
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS var_share
    FROM v{last} v CROSS JOIN l{last} l CROSS JOIN tot t
    """
    )


@query(
    "embedding_top_pc_power_iter",
    oracle=_pc_oracle(),
    tags=("similarity", "linear-algebra", "extension"),
)
def embedding_top_pc_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X230: TOP PRINCIPAL COMPONENT of the embedding table by
    {PC_ITERS} unrolled power-iteration rounds (v ← X^T X v / ‖·‖,
    fixed exactly-unit start [1/8]^64) — iterative distributed linear
    algebra as pure DataFrame joins/aggregations, the anisotropy
    diagnostic behind embedding post-processing (the all-but-the-top
    trick removes exactly this direction; var_share says how much of
    the second moment one direction eats). bpe_train_merges proved
    the fixed-round unrolled-oracle pattern for iterative training;
    this applies it to linear algebra.

    Float discipline: EVERY reduction (Xv products, X^T p products,
    ‖w‖² terms, total second moment) rounds its terms to 12-dp
    DECIMAL before an order-free decimal sum — the whole iteration is
    bit-determined with no accumulation-order hazard on either
    engine; per-round normalization re-rounds v to 12 dp.

    Plan: the exploded (vec_id, dim, x) table materializes ONCE
    (localCheckpoint) and serves all {PC_ITERS}×2 matvec joins; each
    round is two hash-keyed partial aggs (by vec_id, then by dim) +
    a 1-row norm broadcast; V frames are 64 rows. At 100 TB the
    vec_id-keyed agg is the one big exchange per round — the standard
    distributed matvec shape."""
    # r11: spread the scan before the explode — the exploded matrix
    # inherited the local single-file scan's ONE partition through the
    # localCheckpoint, so every matvec join/agg ran single-task
    # (measured: ~16 single-task 0.22 s stages per run). Gated no-op at
    # deploy scale; reordering is result-safe because every reduction
    # rounds its terms to 12-dp DECIMAL before an order-free exact sum
    # (the operator's float discipline).
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")

    def r12(c):
        return F.round(c.cast("decimal(18,12)"), 12).cast("decimal(18,12)")

    e = (
        emb.select(
            "vec_id",
            F.posexplode(as_double(F.col("embedding"))).alias("dim0", "x"),
        )
        .select(
            "vec_id", (F.col("dim0") + 1).cast("bigint").alias("dim"), "x"
        )
        .localCheckpoint(eager=True)
    )
    v = e.select("dim").distinct().select(
        "dim", F.lit(PC_V0).cast("double").alias("v")
    )
    for _ in range(PC_ITERS):
        p = (
            e.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(
                F.sum(r12(F.col("x") * F.col("v")))
                .cast("decimal(38,12)")
                .alias("pd")
            )
        )
        # r11: materialize the 64-row w ONCE per round — un-checkpointed,
        # the lam broadcast subquery below re-ran the ENTIRE two-join
        # matvec a second time per round (and lam_f a third time for the
        # final round): measured plan duplication, 2x the matvec work.
        w = (
            e.join(p, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(r12(F.col("x") * F.col("pd").cast("double")))
                .cast("decimal(38,12)")
                .alias("wd")
            )
        ).localCheckpoint(eager=True)
        lam = w.agg(
            F.sqrt(
                F.sum(
                    r12(
                        F.col("wd").cast("double")
                        * F.col("wd").cast("double")
                    )
                ).cast("double")
            ).alias("lam")
        )
        # r12 (VERDICT r11 item 4): v needs no checkpoint of its own —
        # it is a 64-row projection of the already-checkpointed w (one
        # broadcast-subquery agg + a division), referenced once per
        # round inside the next matvec's broadcast build. Dropping the
        # eager barrier removes PC_ITERS sequential jobs; the trivial
        # lam agg re-runs inside that broadcast build instead.
        v = w.crossJoin(F.broadcast(lam)).select(
            "dim",
            r12(F.col("wd").cast("double") / F.col("lam"))
            .cast("double")
            .alias("v"),
        )
    tot = e.agg(
        F.sum(r12(F.col("x") * F.col("x")))
        .cast("decimal(38,12)")
        .alias("ss"),
        F.countDistinct("vec_id").cast("bigint").alias("n"),
    )
    lam_f = w.agg(
        F.sqrt(
            F.sum(
                r12(
                    F.col("wd").cast("double")
                    * F.col("wd").cast("double")
                )
            ).cast("double")
        ).alias("lam")
    )
    return (
        v.crossJoin(F.broadcast(lam_f))
        .crossJoin(F.broadcast(tot))
        .select(
            "dim",
            F.round(F.col("v").cast("decimal(28,10)"), 6)
            .cast("double")
            .alias("loading"),
            F.round((F.col("lam") / F.col("n")).cast("decimal(28,10)"), 6)
            .cast("double")
            .alias("eigenvalue"),
            F.round(
                (F.col("lam") / F.col("ss").cast("double")).cast(
                    "decimal(28,10)"
                ),
                6,
            )
            .cast("double")
            .alias("var_share"),
        )
    )


# X236 — all-but-the-top debias transform ---------------------------------------
@query(
    "embedding_debias_toppc",
    oracle=f"""
    WITH pc AS (
      SELECT dim, loading FROM ({_R["embedding_top_pc_power_iter"].oracle})
    ),
    d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
          FROM embeddings),
    e AS (
      SELECT vec_id, u.i AS dim, ve[u.i] AS x
      FROM d, UNNEST(range(1, len(ve) + 1)) AS u(i)
    ),
    per AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(ROUND(CAST(e.x * e.x AS DECIMAL(18,12)), 12)
                           AS DECIMAL(18,12))) AS DECIMAL(38,12)) AS n2,
             CAST(SUM(CAST(ROUND(CAST(e.x * pc.loading
                                       AS DECIMAL(18,12)), 12)
                           AS DECIMAL(18,12))) AS DECIMAL(38,12)) AS p
      FROM e JOIN pc ON pc.dim = e.dim
      GROUP BY e.vec_id
    )
    SELECT vec_id,
      CAST(ROUND(CAST(sqrt(CAST(n2 AS DOUBLE))
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS norm,
      CAST(ROUND(CAST(CAST(p AS DOUBLE)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS proj_pc1,
      CAST(ROUND(CAST(
        sqrt(GREATEST(CAST(n2 AS DOUBLE)
             - CAST(p AS DOUBLE) * CAST(p AS DOUBLE), 0.0))
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS resid_norm,
      CAST(ROUND(CAST(
        (CAST(p AS DOUBLE) * CAST(p AS DOUBLE))
        / NULLIF(CAST(n2 AS DOUBLE), 0.0)
        AS DECIMAL(28,10)), 6) AS DOUBLE) AS pc1_energy_share
    FROM per
    """,
    tags=("similarity", "transform", "extension"),
)
def embedding_debias_toppc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X236: ALL-BUT-THE-TOP debias — per vector, the projection onto
    the trained top principal component (X230's published 6-dp
    loadings, embedded verbatim) and the residual norm after removing
    it. The APPLIED form of the anisotropy diagnostic: X230 says how
    dominant the common direction is corpus-wide; this is the per-row
    transform a retrieval stack actually ships (remove the top
    component, renormalize), with pc1_energy_share identifying the
    vectors that are mostly common-direction (stopword-like
    embeddings).

    Float discipline: x², x·loading products round to 12-dp decimal
    before order-free per-vector sums; projections compare against
    the PUBLISHED rounded loadings so both engines transform
    identically; outputs round 6 dp.

    Plan: the 64-row loading frame broadcasts onto the exploded
    (vec_id, dim, x) table; one vec_id-keyed partial agg — the same
    matvec exchange as one X230 round."""
    pc = embedding_top_pc_power_iter(spark, sf_dir).select(
        "dim", "loading"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(as_double(F.col("embedding"))).alias("dim0", "x"),
    ).select(
        "vec_id", (F.col("dim0") + 1).cast("bigint").alias("dim"), "x"
    )

    def r12(c):
        return F.round(c.cast("decimal(18,12)"), 12).cast("decimal(18,12)")

    per = (
        e.join(F.broadcast(pc), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(r12(F.col("x") * F.col("x")))
            .cast("decimal(38,12)")
            .alias("n2"),
            F.sum(r12(F.col("x") * F.col("loading")))
            .cast("decimal(38,12)")
            .alias("p"),
        )
    )
    n2d = F.col("n2").cast("double")
    pd = F.col("p").cast("double")

    def r6(c):
        return F.round(c.cast("decimal(28,10)"), 6).cast("double")

    return per.select(
        "vec_id",
        r6(F.sqrt(n2d)).alias("norm"),
        r6(pd).alias("proj_pc1"),
        r6(F.sqrt(F.greatest(n2d - pd * pd, F.lit(0.0)))).alias(
            "resid_norm"
        ),
        r6((pd * pd) / F.nullif(n2d, F.lit(0.0))).alias(
            "pc1_energy_share"
        ),
    )


# X246 — IVF-probed hard-negative mining -----------------------------------
#: negatives kept per query vector.
HN_K = 5


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    {{cents}},
    assign AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT d.vec_id, d.v, cents.cent_id,
               row_number() OVER (
                 PARTITION BY d.vec_id
                 ORDER BY ROUND({{cos_dv}}, 6)
                            DESC, cents.cent_id) AS arn
        FROM d CROSS JOIN cents
      ) WHERE arn = 1
    ),
    q AS (SELECT a.vec_id AS query_id, a.v AS qv, lab.label AS qlabel
          FROM assign a JOIN lab ON lab.vec_id = a.vec_id
          WHERE a.vec_id < {{nq}}),
    probes AS (
      SELECT query_id, qv, qlabel, cent_id FROM (
        SELECT q.query_id, q.qv, q.qlabel, cents.cent_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({{cos_qc}}, 6)
                            DESC, cents.cent_id) AS prn
        FROM q CROSS JOIN cents
      ) WHERE prn <= {{np}}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, lab.label AS neg_label,
             ROUND({{cos_qa}}, 4) AS cos_sim
      FROM probes p
      JOIN assign a ON a.cent_id = p.cent_id
      JOIN lab ON lab.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id AND lab.label <> p.qlabel
    )
    SELECT query_id, vec_id, neg_label, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {{k}}
    """.format(
        cents=_trained_cents_sql(),
        cos_dv=cosine_oracle_sql("d.v", "cents.cv"),
        cos_qc=cosine_oracle_sql("q.qv", "cents.cv"),
        cos_qa=cosine_oracle_sql("p.qv", "a.v"),
        nq=N_QUERIES,
        np=N_PROBE,
        k=HN_K,
    ),
    tags=("similarity", "extension", "ivf", "curation"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X246: HARD-negative mining for contrastive training — for each
    query vector, the most-similar corpus vectors carrying a DIFFERENT
    label, retrieved through the IVF index (probe the N_PROBE nearest
    cells of the trained codebook, rank cross-label candidates exactly
    inside them, keep HN_K). The random sampler
    (``contrastive_negatives``) draws EASY negatives; retrieval /
    embedding fine-tuning wants these near-miss ones — the ANCE/DPR
    hard-negative recipe (public papers), here as a declarative plan.

    Scale shape: rides the SHARED persisted semantic-index artifacts
    (codebook + cell assignment — r8's ``_artifact_memo``), so mining
    adds zero training or assignment cost on top of the index every
    other embedding op already uses; probes broadcast (queries ×
    N_PROBE rows) against the cell-keyed assignment, the label join is
    a hash join on vec_id, and the final ranking partitions by
    query_id (bounded state)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    labels = emb.select("vec_id", "label")
    assign = assigned_corpus(d).join(labels, "vec_id")
    cents = _trained_cents(d)
    q = assign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    qsim = F.round(cosine(F.col("qv"), F.col("cv")), 6)
    wp = Window.partitionBy("query_id").orderBy(
        qsim.desc(), F.col("cent_id")
    )
    probes = (
        q.join(F.broadcast(cents))
        .withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= N_PROBE)
        .select("query_id", "qv", "qlabel", "cent_id")
    )
    scored = (
        F.broadcast(probes)
        .join(assign, "cent_id")
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("qlabel"))
        )
        .select(
            "query_id",
            "vec_id",
            F.col("label").alias("neg_label"),
            F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HN_K)
        .drop("rn")
    )


# X248 — MMR-diversified top-k (unrolled greedy selection) ------------------
MMR_LAMBDA = 0.5  # exact binary, so lam*a - lam*b is exact on 4-dp sims
MMR_POOL = 20
MMR_K = 5


def _mmr_oracle() -> str:
    """Unrolled CTE chain: pool → pairs → s1 → … → s{MMR_K}."""
    cos_qd = cosine_oracle_sql("q.qv", "d.v")
    cos_ab = cosine_oracle_sql("a.v", "b.v")
    parts = [
        f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM d
          WHERE vec_id < {N_QUERIES}),
    pool AS (
      SELECT query_id, vec_id, v, rel FROM (
        SELECT q.query_id, d.vec_id, d.v,
               ROUND({cos_qd}, 4) AS rel,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({cos_qd}, 4) DESC, d.vec_id) AS prn
        FROM q JOIN d ON d.vec_id <> q.query_id
      ) WHERE prn <= {MMR_POOL}
    ),
    pairs AS (
      SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
             ROUND({cos_ab}, 4) AS sim
      FROM pool a JOIN pool b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT query_id, vec_id, 1 AS sel_rank, rel,
             CAST(0.0 AS DOUBLE) AS red
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
        FROM pool
      ) WHERE rn = 1
    )"""
    ]
    for i in range(2, MMR_K + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"""
    cand{i} AS (
      SELECT p.query_id, p.vec_id, p.rel, MAX(pr.sim) AS red
      FROM pool p
      JOIN pairs pr ON pr.query_id = p.query_id AND pr.va = p.vec_id
      JOIN {prev} s ON s.query_id = pr.query_id AND s.vec_id = pr.vb
      WHERE NOT EXISTS (
        SELECT 1 FROM {prev} x
        WHERE x.query_id = p.query_id AND x.vec_id = p.vec_id)
      GROUP BY p.query_id, p.vec_id, p.rel
    ),
    s{i} AS (
      SELECT * FROM {prev}
      UNION ALL
      SELECT query_id, vec_id, {i} AS sel_rank, rel, red FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY {MMR_LAMBDA} * rel - {MMR_LAMBDA} * red DESC,
                   vec_id) AS rn
        FROM cand{i}
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT query_id, CAST(sel_rank AS INT) AS sel_rank, vec_id, rel,
           red AS redundancy,
           {MMR_LAMBDA} * rel - {MMR_LAMBDA} * red AS mmr_score
    FROM s{MMR_K}
    """
    )
    return ",".join(parts[:1] + parts[1:-1]) + parts[-1]


@query(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "extension", "retrieval"),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X248: Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998, public) — greedy re-rank of each query's exact
    top-{MMR_POOL} pool: step i keeps the candidate maximizing
    λ·sim(q,c) − λ·max_{{s∈S}} sim(c,s), so near-duplicate results
    can't crowd the cut. The plain top-k (similarity_topk) is the
    λ=1 degenerate case; RAG retrieval and eval-set curation both use
    this shape to de-redundify retrieved context.

    Exactness: all sims are 4-dp-rounded before scoring, λ = 0.5 is a
    power of two, and λ·a − λ·b on 4-dp doubles is exact IEEE — so the
    greedy argmax (vec_id tiebreak) picks the identical element in
    both engines; the {MMR_K} selection rounds are UNROLLED into the
    plan (no driver loop over data).

    Scale shape: the pool is constant-size per query (top-{MMR_POOL}
    via per-partition TakeOrdered), so the pairwise-sim frame is
    queries × {MMR_POOL}² rows — broadcast-tiny regardless of corpus
    size; each selection round is a join over those frames. Only the
    pool is localCheckpointed once (pairs and the seed selection are
    in-memory flyweights over it — r11); per-round selections
    checkpoint ≤ queries·K rows."""
    from ..functions.vectors import dot, norm

    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = d.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    rel = F.round(cosine(F.col("qv"), F.col("v")), 4)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id")
    )
    pool = (
        F.broadcast(q)
        .join(d, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "v", rel.alias("rel"))
        .withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= MMR_POOL)
        .drop("prn")
        .localCheckpoint(eager=True)
    )
    a = pool.select(
        "query_id", F.col("vec_id").alias("va"), F.col("v").alias("v_a")
    )
    b = pool.select(
        F.col("query_id").alias("qb"),
        F.col("vec_id").alias("vb"),
        F.col("v").alias("v_b"),
    )
    # r11: no checkpoint on pairs either — it is a queries×POOL² join
    # over the pinned pool (≤ 3·10³ rows), so each selection round's
    # recompute is an in-memory flyweight; dropping the two seed
    # barriers (here and selected) cut the sequential job chain:
    # 3.28 -> 2.51 s at sf0.1 (the per-round checkpoints stay — see
    # the loop comment).
    pairs = (
        a.join(
            b,
            (F.col("query_id") == F.col("qb"))
            & (F.col("va") != F.col("vb")),
        )
        .select(
            "query_id",
            "va",
            "vb",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 4).alias("sim"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id")
    )
    # r11: no checkpoint on the seed selection — it is one tiny window
    # over the already-pinned pool, so its three round-2 references
    # recompute an in-memory ≤|queries|-row plan; the eager barrier
    # here was a whole sequential job. (Removing the PER-ROUND
    # checkpoints was tried and measured 3.3 -> 5.4 s — the two
    # selected references per round double the un-pinned plan each
    # round; eager=False was flat: rounds serialize either way.)
    selected = (
        pool.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "vec_id",
            F.lit(1).alias("sel_rank"),
            "rel",
            F.lit(0.0).alias("red"),
        )
    )
    lam = F.lit(MMR_LAMBDA)
    for i in range(2, MMR_K + 1):
        sel_ids = selected.select(
            "query_id", F.col("vec_id").alias("vb")
        )
        cand = (
            pool.join(
                selected.select("query_id", "vec_id"),
                ["query_id", "vec_id"],
                "left_anti",
            )
            .join(
                pairs.join(sel_ids, ["query_id", "vb"]).select(
                    "query_id", F.col("va").alias("vec_id"), "sim"
                ),
                ["query_id", "vec_id"],
            )
            .groupBy("query_id", "vec_id")
            .agg(
                F.any_value("rel").alias("rel"),
                F.max("sim").alias("red"),
            )
        )
        wi = Window.partitionBy("query_id").orderBy(
            (lam * F.col("rel") - lam * F.col("red")).desc(),
            F.col("vec_id"),
        )
        pick = (
            cand.withColumn("rn", F.row_number().over(wi))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "vec_id",
                F.lit(i).alias("sel_rank"),
                "rel",
                "red",
            )
        )
        selected = selected.unionAll(pick).localCheckpoint(eager=True)
    return selected.select(
        "query_id",
        F.col("sel_rank").cast("int").alias("sel_rank"),
        "vec_id",
        "rel",
        F.col("red").alias("redundancy"),
        (lam * F.col("rel") - lam * F.col("red")).alias("mmr_score"),
    )


# X251 — triangle census of the kNN graph -----------------------------------
@query(
    "knn_triangle_census",
    oracle=f"""
    WITH knn AS ({_KNN_ORACLE}),
    e AS (
      SELECT DISTINCT LEAST(vec_id, nbr_id) AS u,
                      GREATEST(vec_id, nbr_id) AS w
      FROM knn
    ),
    deg AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS x FROM e UNION ALL SELECT w AS x FROM e
      ) GROUP BY x
    ),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dw.d, e.w) THEN e.u ELSE e.w END
               AS src,
             CASE WHEN (du.d, e.u) < (dw.d, e.w) THEN e.w ELSE e.u END
               AS dst
      FROM e JOIN deg du ON du.x = e.u JOIN deg dw ON dw.x = e.w
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM o e1
      JOIN o e2 ON e2.src = e1.src AND e2.dst <> e1.dst
      JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
             CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT agg.n_vertices, ne.n_edges, tri.n_triangles, agg.n_wedges,
           CAST(ROUND(CAST(
             3.0 * tri.n_triangles / agg.n_wedges
             AS DECIMAL(28,10)), 6) AS DOUBLE) AS global_clustering
    FROM agg CROSS JOIN ne CROSS JOIN tri
    """,
    tags=("similarity", "graph", "extension"),
)
def knn_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X251: TRIANGLE census of the kNN graph — triangle count, wedge
    count and the global clustering coefficient (3·T/W), the standard
    manifold-quality probe for an embedding space (high clustering =
    neighborhoods are coherent; near-zero = the index is hashing
    noise). Triangles come from the DEGREE-ORDERED orientation
    (Cohen/Suri's MapReduce triangle recipe, public): every undirected
    edge points from its (degree, id)-smaller endpoint to the larger,
    making the graph acyclic and bounding each vertex's out-degree by
    O(√m) on any graph — so the wedge join never explodes on hubs, the
    100-TB failure mode of the naive 3-way self-join.

    Scale shape: edges are one DISTINCT over the (already cell-bounded)
    kNN output; degrees one partial-agg count; the orientation a hash
    join back; the triangle count two hash equi-joins over the oriented
    list (each triangle matched exactly once: its (k-min, mid, k-max)
    labeling is unique). Exchanges carry (bigint, bigint) pairs only."""
    knn = knn_graph_cells(spark, sf_dir).select("vec_id", "nbr_id")
    e = (
        knn.select(
            F.least("vec_id", "nbr_id").alias("u"),
            F.greatest("vec_id", "nbr_id").alias("w"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("w").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dw = deg.select(F.col("x").alias("w"), F.col("d").alias("dw"))
    u_first = (F.col("du") < F.col("dw")) | (
        (F.col("du") == F.col("dw")) & (F.col("u") < F.col("w"))
    )
    o = (
        e.join(du, "u")
        .join(dw, "w")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("w")).alias("src"),
            F.when(u_first, F.col("w")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    e3 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = (
        e1.join(e2, "a")
        .filter(F.col("b") != F.col("c"))
        .join(e3, ["b", "c"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        agg.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                (
                    F.lit(3.0)
                    * F.col("n_triangles")
                    / F.col("n_wedges")
                ).cast("decimal(28,10)"),
                6,
            )
            .cast("double")
            .alias("global_clustering"),
        )
    )


# X261 — label propagation over the kNN graph --------------------------------
#: every LP_SEED_MOD-th vector keeps its true label as a seed.
LP_SEED_MOD = 5
#: unrolled propagation rounds.
LP_ROUNDS = 3


def _lp_oracle() -> str:
    rounds = ",".join(
        f"""
    lab{k} AS (
      SELECT vec_id, label FROM lab{k - 1}
      UNION ALL
      SELECT vec_id, label FROM (
        SELECT e.vec_id, l.label,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY COUNT(*) DESC, l.label ASC)
                 AS rn
        FROM edges e JOIN lab{k - 1} l ON e.nbr_id = l.vec_id
        WHERE e.vec_id NOT IN (SELECT vec_id FROM lab{k - 1})
        GROUP BY e.vec_id, l.label
      ) WHERE rn = 1
    )"""
        for k in range(1, LP_ROUNDS + 1)
    )
    return f"""
    WITH knn AS ({_KNN_ORACLE}),
    edges AS (
      SELECT DISTINCT vec_id, nbr_id FROM (
        SELECT vec_id, nbr_id FROM knn
        UNION ALL SELECT nbr_id AS vec_id, vec_id AS nbr_id FROM knn
      )
    ),
    lab0 AS (
      SELECT vec_id, label FROM embeddings
      WHERE vec_id % {LP_SEED_MOD} = 0
    ),{rounds},
    truth AS (SELECT vec_id, label AS true_label FROM embeddings)
    SELECT t.true_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN t.vec_id % {LP_SEED_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
           CAST(SUM(CASE WHEN p.label IS NOT NULL
                          AND t.vec_id % {LP_SEED_MOD} <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_propagated,
           CAST(SUM(CASE WHEN p.label = t.true_label
                          AND t.vec_id % {LP_SEED_MOD} <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(ROUND(CAST(
             CAST(SUM(CASE WHEN p.label = t.true_label
                            AND t.vec_id % {LP_SEED_MOD} <> 0
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN p.label IS NOT NULL
                                AND t.vec_id % {LP_SEED_MOD} <> 0
                               THEN 1 ELSE 0 END), 0)
             AS DECIMAL(28,10)), 4) AS DOUBLE) AS accuracy
    FROM truth t LEFT JOIN lab{LP_ROUNDS} p ON p.vec_id = t.vec_id
    GROUP BY t.true_label
    """


@query(
    "label_propagation_audit",
    oracle=_lp_oracle(),
    tags=("similarity", "graph", "extension"),
)
def label_propagation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X261: SEMI-SUPERVISED LABEL PROPAGATION over the kNN graph
    (Zhu & Ghahramani 2002, hard-label variant) — seed every
    LP_SEED_MOD-th vector with its true label, propagate LP_ROUNDS
    rounds (an unlabeled node adopts the MAJORITY label of its
    labeled neighbors; adopted labels freeze — the monotone variant
    that terminates deterministically), then audit per class how far
    the labels spread and how often they match ground truth. The
    label-efficiency probe for an embedding space: high propagation
    accuracy = classes form coherent kNN neighborhoods = a cheap
    labeling strategy works; it also measures label noise
    (`near_dup_embedding`'s label-block assumption, tested). On the
    driver's synthetic embeddings the audit reads CHANCE-level
    accuracy (~0.06-0.09 for 10 classes) because the generated labels
    are independent of geometry (measured: kNN neighbor label
    agreement ≈ 9%) — the correct verdict for this data, asserted as
    such in tests/test_new_ops_properties.py.

    Determinism: majority ties break (count DESC, label ASC);
    freezing makes round k's output independent of join order.

    Scale shape: edges ride the SHARED kNN frame (the memoized
    codebook/assignment artifacts — no new training); each round is
    one frontier-sized equi-join + count-groupBy + ranking window
    partitioned by node + an anti-join against the labeled set —
    Pregel supersteps as DataFrame ops, LP_ROUNDS fixed jobs;
    labeled-set frames checkpoint between rounds like the BFS/SSSP
    family."""
    # both union branches read the memoized kNN-graph artifact (r11:
    # knn_graph_cells checkpoints itself) — no per-consumer recompute
    kn = knn_graph_cells(spark, sf_dir).select("vec_id", "nbr_id")
    edges = (
        kn.unionAll(
            kn.select(
                F.col("nbr_id").alias("vec_id"),
                F.col("vec_id").alias("nbr_id"),
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lab = emb.filter(F.col("vec_id") % LP_SEED_MOD == 0).localCheckpoint(
        eager=True
    )
    for _ in range(LP_ROUNDS):
        votes = (
            edges.join(
                lab.withColumnRenamed("vec_id", "nbr_id"), "nbr_id"
            )
            .join(lab.select("vec_id"), "vec_id", "left_anti")
            .groupBy("vec_id", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        adopted = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "label")
        )
        lab = lab.unionAll(adopted).localCheckpoint(eager=True)
    truth = emb.select("vec_id", F.col("label").alias("true_label"))
    seeded = F.col("vec_id") % LP_SEED_MOD == 0
    j = truth.join(
        lab.select("vec_id", F.col("label").alias("prop_label")),
        "vec_id",
        "left",
    )
    n_prop = F.sum(
        F.when(F.col("prop_label").isNotNull() & ~seeded, 1).otherwise(0)
    ).cast("bigint")
    n_corr = F.sum(
        F.when((F.col("prop_label") == F.col("true_label")) & ~seeded, 1)
        .otherwise(0)
    ).cast("bigint")
    return j.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.when(seeded, 1).otherwise(0)).cast("bigint").alias("n_seeds"),
        n_prop.alias("n_propagated"),
        n_corr.alias("n_correct"),
        F.round(
            (
                n_corr.cast("double") / F.nullif(n_prop, F.lit(0))
            ).cast("decimal(28,10)"),
            4,
        )
        .cast("double")
        .alias("accuracy"),
    )


# X274 — int8 symmetric-quantization audit ------------------------------------
#: symmetric int8 range: q = round(x / (max|x| / 127)), clamped.
INT8_LEVELS = 127


@query(
    "int8_quantization_audit",
    oracle=f"""
    WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax
      FROM d
    ),
    qz AS (
      SELECT vec_id, v, amax / {INT8_LEVELS}.0 AS sc,
             list_transform(v, x ->
               GREATEST(LEAST(CAST(ROUND(CAST(x / (amax / {INT8_LEVELS}.0)
                                              AS DECIMAL(28,10)), 0)
                                   AS DOUBLE), {INT8_LEVELS}.0),
                        -{INT8_LEVELS}.0)
               * (amax / {INT8_LEVELS}.0)) AS dq
      FROM m WHERE amax > 0
    )
    SELECT vec_id,
           CAST(ROUND(CAST(sc AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS scale,
           CAST(ROUND(CAST({{cos}} AS DECIMAL(28,10)), 4) AS DOUBLE)
             AS cos_quantized,
           CAST(ROUND(CAST(list_max(list_transform(
                  range(1, len(v) + 1), i -> abs(v[i] - dq[i])))
                AS DECIMAL(28,10)), 6) AS DOUBLE) AS max_abs_err
    FROM qz
    """.replace("{cos}", cosine_oracle_sql("v", "dq")),
    tags=("similarity", "extension"),
)
def int8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X274: INT8 symmetric-quantization distortion audit — the
    go/no-go report before shipping a vector index at int8 (4× memory
    and bandwidth vs float32, the standard serving trade): per vector,
    scale = max|x|/{INT8_LEVELS}, q = decimal-rounded x/scale clamped
    to ±{INT8_LEVELS}, and the audit reports the retained cosine
    against the original plus the worst per-component absolute error.
    pq_distortion_report audits the PQ codebook path; THIS audits the
    scalar-quantization path — the one vector DBs default to.

    Exactness: the quantizer is the decimal-repr HALF_UP round both
    engines share; scale/dequantized products are identical IEEE
    expressions; cosine is the left-fold dot (vectors.py) vs DuckDB
    list_inner_product — the established 4-dp-rounded pairing.

    Scale shape: pure narrow HOF projection fused into the embeddings
    scan — zero exchanges, zero Python; at 100 TB this is the
    cheapest possible full-corpus audit (one map pass), and the
    per-vector rows feed the usual percentile machinery downstream."""
    from ..functions.vectors import as_double, cosine

    d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    amax = F.array_max(F.transform("v", lambda x: F.abs(x)))
    m = d.select("vec_id", "v", amax.alias("amax")).filter(
        F.col("amax") > 0
    )
    sc = F.col("amax") / INT8_LEVELS
    dq = F.transform(
        "v",
        lambda x: F.greatest(
            F.least(
                F.round((x / sc).cast("decimal(28,10)"), 0).cast(
                    "double"
                ),
                F.lit(float(INT8_LEVELS)),
            ),
            F.lit(float(-INT8_LEVELS)),
        )
        * sc,
    )
    qz = m.select("vec_id", "v", sc.alias("sc"), dq.alias("dq"))
    r = lambda c, n: F.round(c.cast("decimal(28,10)"), n).cast("double")
    return qz.select(
        "vec_id",
        r(F.col("sc"), 6).alias("scale"),
        r(cosine(F.col("v"), F.col("dq")), 4).alias("cos_quantized"),
        r(
            F.array_max(
                F.zip_with("v", "dq", lambda a, b: F.abs(a - b))
            ),
            6,
        ).alias("max_abs_err"),
    )
