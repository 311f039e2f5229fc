"""Sources/sinks/mutation surface — SURVEY.md §2.1 (S5, S6, S7, S9).

The reference's sink is a Postgres batch INSERT with ``ON CONFLICT DO
NOTHING`` (sql_wrapper.py:39-55) and a keyed DELETE (api.py:185-188);
on immutable columnar storage these become dedup-before-append and
anti-join rewrite respectively — both implemented here as library
functions plus oracle-checked queries.
"""

from __future__ import annotations

import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import TABLES, load_table, register_views
from ..functions.parity import exact_round, md5_int
from ..registry import query

DELETE_KEYS = (1, 2, 3)


# Library: S5 -------------------------------------------------------------
def idempotent_append(df: DataFrame, path: str, keys: list[str]) -> None:
    """S5: append rows whose key is not already present — the Parquet
    equivalent of INSERT … ON CONFLICT DO NOTHING (sql_wrapper.py:44-46).

    Implementation: left-anti join the incoming batch against the
    existing keys, then append. The existing side is read with the
    batch's own key schema, so it prunes to the key columns and runs no
    schema-inference job; with Delta available this becomes
    ``MERGE WHEN NOT MATCHED THEN INSERT`` inside ``foreachBatch``
    (SURVEY.md §4 upsert row).
    """
    spark = df.sparkSession
    batch = df.dropDuplicates(keys)
    key_schema = StructType([df.schema[k] for k in keys])
    try:
        existing = spark.read.schema(key_schema).parquet(path)
    except AnalysisException as exc:
        # Only a genuinely-absent sink counts as "first write"; an
        # empty directory reads as no keys. Any OTHER read failure
        # (corrupt footer, permissions, transient IO) must propagate —
        # degrading it to a plain append would silently break the
        # exactly-once guarantee with duplicate rows. With a known
        # schema a corrupt footer surfaces when the join reads it.
        cond = exc.getCondition() if hasattr(exc, "getCondition") else None
        if cond != "PATH_NOT_FOUND" and "PATH_NOT_FOUND" not in str(exc):
            raise
        existing = None
    if existing is not None:
        # the join puts the keys first; every append keeps the frame's
        # column order so all of the sink's footers agree
        batch = batch.join(existing, on=keys, how="left_anti").select(
            *df.columns
        )
    batch.write.mode("append").parquet(path)


# Library: S5 (JDBC-shaped staged upsert) ---------------------------------
def staged_upsert(
    batch: DataFrame,
    keys: list[str],
    *,
    parquet_path: str | None = None,
    jdbc_url: str | None = None,
    table: str = "rides",
    stage_table: str | None = None,
    connection_properties: dict[str, str] | None = None,
) -> None:
    """S5, the deployable form of the reference's sink contract
    (sql_wrapper.py:39-55, ``INSERT … ON CONFLICT DO NOTHING``):
    a staged upsert suitable for ``foreachBatch``.

    With a JDBC URL configured, the micro-batch is written to a stage
    table (overwrite — the stage is scratch, safe to clobber on
    redelivery), then merged into the target with a single
    set-oriented, keyed NOT-EXISTS insert executed database-side.
    Stage-then-merge is the standard exactly-once JDBC pattern: the
    merge statement is atomic in the database, so a redelivered batch
    re-stages and re-merges to a no-op.

    Without a JDBC URL (this sandbox), degrades to the parquet
    dedup-append (`idempotent_append`) with identical semantics.
    """
    if jdbc_url is None:
        if parquet_path is None:
            raise ValueError("need parquet_path when no jdbc_url configured")
        idempotent_append(batch, parquet_path, keys)
        return

    props = dict(connection_properties or {})
    stage = stage_table or f"{table}__stage"
    deduped = batch.dropDuplicates(keys)
    deduped.write.mode("overwrite").option("truncate", "true").jdbc(
        jdbc_url, stage, properties=props
    )
    # Spark's JDBC writer creates tables with QUOTED (case-exact)
    # column identifiers — the merge must quote them the same way or
    # an ANSI database folds the bare names to uppercase and misses.
    cols = ", ".join(f'"{c}"' for c in deduped.columns)
    sel = ", ".join(f's."{c}"' for c in deduped.columns)
    on = " AND ".join(f't."{k}" = s."{k}"' for k in keys)
    merge_sql = (
        f"INSERT INTO {table} ({cols}) "
        f"SELECT {sel} FROM {stage} s "
        f"WHERE NOT EXISTS (SELECT 1 FROM {table} t WHERE {on})"
    )
    _execute_jdbc_statement(batch.sparkSession, jdbc_url, merge_sql, props)


def _execute_jdbc_statement(
    spark: SparkSession, jdbc_url: str, sql_text: str, props: dict[str, str]
) -> None:
    """Run one DML statement through the JVM's ``java.sql.DriverManager``
    (the connection machinery Spark's own JDBC source uses). Kept
    separate so tests can monkeypatch it — no database exists in this
    container."""
    jvm = spark.sparkContext._jvm
    jprops = jvm.java.util.Properties()
    for k, v in props.items():
        jprops.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(jdbc_url, jprops)
    try:
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(sql_text)
        finally:
            stmt.close()
    finally:
        conn.close()


def upsert_writer(keys: list[str], **sink_config):
    """Build a ``foreachBatch`` callable around :func:`staged_upsert`,
    the sink of a ``streaming.pipeline`` drain:
    `upsert_writer(keys, parquet_path=…)`, or
    `upsert_writer(keys, jdbc_url=…, table=…)` for a real database."""

    def _write(batch: DataFrame, _epoch: int) -> None:
        staged_upsert(batch, keys, **sink_config)

    return _write


# Library: S5/S9 native table-format paths (Delta, probe-gated) -----------
def delta_available() -> bool:
    """True when delta-spark is importable. The container ships no
    table format, so the NATIVE ``MERGE WHEN NOT MATCHED`` / ``DELETE
    WHERE`` paths below are exercised only where the dependency exists
    (tests/test_delta_gate.py, the state-v2/Kafka gate convention —
    BASELINE.md gate rows); the parquet dedup-append / anti-join
    patterns remain the default implementations of S5/S9."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def delta_merge_upsert(
    spark: SparkSession, target_path: str, updates: DataFrame, keys: list[str]
) -> None:
    """S5 native path: Delta ``MERGE … WHEN NOT MATCHED THEN INSERT``
    — the table-format twin of :func:`idempotent_append` (the
    reference's INSERT … ON CONFLICT DO NOTHING, sql_wrapper.py:44-46).
    Same contract: duplicate delivery of a batch leaves exactly one
    copy per key; unlike the parquet pattern the conflict check is the
    format's transactional MERGE, not a read-side anti-join."""
    from delta.tables import DeltaTable

    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    (
        DeltaTable.forPath(spark, target_path)
        .alias("t")
        .merge(updates.dropDuplicates(keys).alias("s"), cond)
        .whenNotMatchedInsertAll()
        .execute()
    )


def delta_delete_where(
    spark: SparkSession, target_path: str, predicate: str
) -> None:
    """S9 native path: Delta ``DELETE WHERE`` (api.py:185-188's DELETE
    re-expressed on the table format) — the transactional twin of
    :func:`delete_by_keys`' anti-join rewrite."""
    from delta.tables import DeltaTable

    DeltaTable.forPath(spark, target_path).delete(predicate)


# Library: small-file compaction ------------------------------------------
def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction — the ``OPTIMIZE`` shape on immutable
    storage. Streaming ingest (one file per micro-batch per partition)
    degrades scans into file-listing storms at 100 TB; this rewrites a
    parquet directory into ``ceil(total_bytes / target)`` files
    (~128 MB default, the scan-split sweet spot).

    Locally the swap is write-aside + atomic directory rename; on a
    real deployment the same rewrite runs under a transactional table
    format (Delta OPTIMIZE / Iceberg rewrite_data_files) so readers
    never observe the intermediate state. Returns the file count after
    compaction."""
    import math
    import os
    import shutil

    total = sum(
        e.stat().st_size
        for e in os.scandir(path)
        if e.is_file() and e.name.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    # coalesce, not repartition: compaction must not shuffle the data,
    # only concatenate splits (row order within files may change, row
    # SET never does)
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + "__pre_compact"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return sum(
        1
        for e in os.scandir(path)
        if e.is_file() and e.name.endswith(".parquet")
    )


# Library: S6 -------------------------------------------------------------
def run_multi_statements(spark: SparkSession, sql_text: str) -> DataFrame:
    """S6: split on ';', execute each statement, return the last
    resultset (sql_wrapper.py:27-37)."""
    result = None
    for stmt in filter(None, (s.strip() for s in sql_text.split(";"))):
        result = spark.sql(stmt)
    if result is None:
        raise ValueError("no statements in input")
    return result


# Library: S9 -------------------------------------------------------------
def delete_by_keys(df: DataFrame, keys_df: DataFrame, on: list[str]) -> DataFrame:
    """S9: DELETE WHERE key IN (…) → left-anti join rewrite
    (api.py:185-188; SURVEY.md S9). With Delta: ``DELETE WHERE``."""
    return df.join(keys_df, on=on, how="left_anti")


# Queries -----------------------------------------------------------------
@query(
    "sql_delete_by_key",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS VARCHAR) AS o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey NOT IN {DELETE_KEYS!r}
    """,
    tags=("sink", "mutation"),
)
def sql_delete_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 as a query: orders minus a key list via left-anti join."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("string")
    )
    keys = spark.createDataFrame(
        [(k,) for k in DELETE_KEYS], "o_orderkey long"
    )
    return delete_by_keys(orders, F.broadcast(keys), ["o_orderkey"]).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )


@query(
    "multi_statement_sql",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_custkey
    """,
    tags=("source", "sql"),
)
def multi_statement_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: multi-statement SQL string — intermediate statements create
    temp views, last resultset returned (sql_wrapper.py:27-37)."""
    register_views(spark, sf_dir)
    return run_multi_statements(
        spark,
        """
        CREATE OR REPLACE TEMPORARY VIEW __expensive AS
            SELECT o_custkey FROM orders WHERE o_totalprice > 100000;
        SELECT o_custkey, COUNT(*) AS n FROM __expensive GROUP BY o_custkey;
        """,
    )


@query(
    "catalog_list_tables",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{t}')" for t in sorted(TABLES))
    + ") AS t(table_name) ORDER BY table_name",
    tags=("source", "catalog"),
)
def catalog_list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: INFORMATION_SCHEMA-style table listing (test.ipynb cell-3) —
    registers the testdata tables, then lists them via
    ``spark.catalog.listTables``."""
    register_views(spark, sf_dir)
    names = sorted(
        t.name for t in spark.catalog.listTables() if t.name in TABLES
    )
    return spark.createDataFrame(
        [(n,) for n in names], "table_name string"
    ).orderBy("table_name")


@query(
    "jdbc_upsert_sink",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey <= 500
    """,
    tags=("sink", "mutation"),
)
def jdbc_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 as a query (SURVEY.md §2.1 ``jdbc_upsert_sink`` — the
    reference's INSERT … ON CONFLICT DO NOTHING): write the same batch
    twice through
    ``idempotent_append`` into a scratch dir; the second append is a
    no-op (ON CONFLICT DO NOTHING semantics), so reading back returns
    exactly one copy."""
    batch = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    from ..session import scratch_dir

    path = scratch_dir("jdbc_upsert_sink")
    shutil.rmtree(path, ignore_errors=True)
    idempotent_append(batch, path, ["o_orderkey"])
    idempotent_append(batch, path, ["o_orderkey"])  # duplicate delivery
    return spark.read.parquet(path)


# X32 — CDC merge (the MERGE INTO shape on immutable storage) ------------
@query(
    "cdc_merge",
    oracle="""
    WITH changes AS (
      SELECT c_custkey AS key, 'D' AS op,
             NULL AS new_name, CAST(NULL AS DOUBLE) AS new_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 'U', c_name, c_acctbal + 100.0
      FROM customer WHERE c_custkey % 10 = 1
      UNION ALL
      SELECT c_custkey + 2000000, 'I', c_name || ' (new)', 0.0
      FROM customer WHERE c_custkey % 10 = 2
    )
    SELECT b.c_custkey, b.c_name, b.c_acctbal
    FROM customer b LEFT JOIN changes ch ON b.c_custkey = ch.key
    WHERE ch.key IS NULL
    UNION ALL
    SELECT key, new_name, new_acctbal FROM changes WHERE op = 'U'
    UNION ALL
    SELECT key, new_name, new_acctbal FROM changes WHERE op = 'I'
    """,
    tags=("sink", "mutation", "cdc", "extension"),
)
def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32: change-data-capture merge — apply a deterministic batch of
    deletes/updates/inserts to the customer table, the MERGE INTO
    WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT
    shape re-expressed for immutable storage: survivors via LEFT ANTI
    on changed keys, plus the updated and inserted images. One shuffle
    on the key (the change set would be broadcast when small); with
    Delta this is literally ``MERGE`` inside ``foreachBatch``
    (SURVEY.md §4 upsert row)."""
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    deletes = base.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("key"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("new_name"),
        F.lit(None).cast("double").alias("new_acctbal"),
    )
    updates = base.filter(F.col("c_custkey") % 10 == 1).select(
        F.col("c_custkey").alias("key"),
        F.lit("U").alias("op"),
        F.col("c_name").alias("new_name"),
        (F.col("c_acctbal") + 100.0).alias("new_acctbal"),
    )
    inserts = base.filter(F.col("c_custkey") % 10 == 2).select(
        (F.col("c_custkey") + 2000000).alias("key"),
        F.lit("I").alias("op"),
        F.concat(F.col("c_name"), F.lit(" (new)")).alias("new_name"),
        F.lit(0.0).alias("new_acctbal"),
    )
    changes = deletes.unionAll(updates).unionAll(inserts)
    survivors = base.join(
        changes.select("key"), base.c_custkey == F.col("key"), "left_anti"
    )
    applied = changes.filter(F.col("op").isin("U", "I")).select(
        F.col("key").alias("c_custkey"),
        F.col("new_name").alias("c_name"),
        F.col("new_acctbal").alias("c_acctbal"),
    )
    return survivors.unionAll(applied)


# X33 — SCD type-2 dimension history -------------------------------------
@query(
    "scd2_customer_history",
    oracle="""
    WITH v2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0
                  THEN c_acctbal + 50.0 ELSE c_acctbal END AS acctbal
      FROM customer
    )
    SELECT c.c_custkey,
           c.c_acctbal AS acctbal,
           1 AS version, 1 AS valid_from,
           CASE WHEN c.c_custkey % 5 = 0 THEN 2 END AS valid_to,
           CASE WHEN c.c_custkey % 5 = 0 THEN 0 ELSE 1 END AS is_current
    FROM customer c
    UNION ALL
    SELECT v2.c_custkey, v2.acctbal, 2, 2, NULL, 1
    FROM v2 WHERE v2.c_custkey % 5 = 0
    """,
    tags=("sink", "mutation", "scd", "extension"),
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33: slowly-changing-dimension type 2 — a new snapshot closes
    the prior version of changed rows (valid_to stamped, is_current
    dropped) and appends the new version; unchanged rows keep their
    open-ended record. Change detection is a key join + value compare;
    history construction is a union — no row ever rewritten in place,
    the append-only shape immutable storage wants."""
    v1 = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("acctbal")
    )
    changed = F.col("c_custkey") % 5 == 0
    v2 = v1.select(
        "c_custkey",
        F.when(changed, F.col("acctbal") + 50.0)
        .otherwise(F.col("acctbal"))
        .alias("acctbal"),
    )
    hist1 = v1.select(
        "c_custkey",
        "acctbal",
        F.lit(1).alias("version"),
        F.lit(1).alias("valid_from"),
        F.when(changed, F.lit(2)).cast("int").alias("valid_to"),
        F.when(changed, F.lit(0)).otherwise(F.lit(1)).alias("is_current"),
    )
    hist2 = v2.filter(changed).select(
        "c_custkey",
        "acctbal",
        F.lit(2).alias("version"),
        F.lit(2).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    return hist1.unionAll(hist2)


# X128 — small-file compaction (table maintenance) ------------------------
#: fragmented-write fan-out and compaction target file count.
COMPACT_FRAG_FILES = 64
COMPACT_TARGET_FILES = 4


@query(
    "small_file_compaction",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
    tags=("sink", "maintenance", "extension"),
)
def small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128: the SMALL-FILES maintenance pass every streaming/parallel
    writer eventually needs — a table fragmented into
    {COMPACT_FRAG_FILES} shards (each micro-batch / task leaves its own
    file; at 100 TB this is millions of files whose open/list overhead
    dominates scans) is rewritten as {COMPACT_TARGET_FILES}
    RANGE-CLUSTERED files: ``repartitionByRange(doc_id)`` +
    ``sortWithinPartitions`` gives every output file a disjoint,
    sorted doc_id span, so the parquet min/max footer stats make
    point/range reads prune to ONE file (verified by the layout test,
    tests/test_new_ops_properties.py).

    The oracle asserts the whole point of maintenance: content is
    EXACTLY preserved — the compacted table reads back as the source
    rows, nothing dropped, nothing duplicated.

    Scale notes: range boundaries come from Spark's reservoir sampling
    of the sort key (no driver-side collect); a deployment sizes the
    partition count to ~1 GiB per output file and runs this off the
    write path. With table formats (Delta/Iceberg) this is OPTIMIZE /
    rewrite_data_files — same plan underneath."""
    from ..session import scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    frag = scratch_dir("compact_frag")
    compacted = scratch_dir("compact_out")
    docs.repartition(COMPACT_FRAG_FILES).write.mode("overwrite").parquet(
        frag
    )
    (
        spark.read.parquet(frag)
        .repartitionByRange(COMPACT_TARGET_FILES, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(compacted)
    )
    return spark.read.parquet(compacted)


# X139 — Z-ORDER layout rewrite (multi-dimensional clustering) --------------
#: output file fan-out and the two clustering dimensions' bucket scales.
ZORDER_FILES = 8
ZORDER_PRICE_DIV = 2000  # totalprice / 2000 → 0..249 at EVERY SF
ZORDER_DAY_DIV = 16  # days since 1995-01-01 / 16 → 0..150 at EVERY SF
ZORDER_ANCHOR = "1995-01-01"


def _zval_sql() -> str:
    terms = " + ".join(
        f"(((price_bucket >> {i}) & 1) << {2 * i})"
        f" + (((day_bucket >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
    return f"({terms})"


def _zval_col() -> "F.Column":
    import pyspark.sql.functions as F

    terms = None
    for i in range(8):
        ta = F.shiftleft(
            F.shiftright(F.col("price_bucket"), i).bitwiseAND(F.lit(1)),
            2 * i,
        )
        tb = F.shiftleft(
            F.shiftright(F.col("day_bucket"), i).bitwiseAND(F.lit(1)),
            2 * i + 1,
        )
        terms = ta + tb if terms is None else terms + ta + tb
    return terms


@query(
    "zorder_layout",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey,
             (CAST(FLOOR(o_totalprice / {ZORDER_PRICE_DIV}.0) AS BIGINT)
               & 255) AS price_bucket,
             (CAST(FLOOR(date_diff('day', DATE '{ZORDER_ANCHOR}',
                                   CAST(o_orderdate AS DATE))
                         / {ZORDER_DAY_DIV}.0) AS BIGINT) & 255)
               AS day_bucket
      FROM orders
    )
    SELECT o_orderkey, price_bucket, day_bucket,
           CAST({_zval_sql()} AS BIGINT) AS zval
    FROM b
    """,
    tags=("sink", "maintenance", "extension"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X139: Z-ORDER clustering rewrite — ``small_file_compaction``'s
    single-dimension range clustering generalized to TWO query
    dimensions (order value, order date — both span their full 8-bit
    bucket scale at every SF): each row's bucket coordinates
    interleave bit-by-bit into a Morton code, the table is
    range-clustered on that code, and every output file then covers a
    small span of BOTH dimensions — so footer min/max stats prune
    point/range reads on EITHER predicate to a few files, where a
    single-dim sort leaves the second dimension spanning every file
    (asserted by the layout test, tests/test_new_ops_properties.py).
    = OPTIMIZE ZORDER BY on table formats.

    Oracle parity covers the content AND the Morton arithmetic (pure
    integer bit ops — identical on both engines); the file layout
    itself is the test's claim.

    Scale shape: bucket + interleave is one narrow projection;
    placement is ``repartitionByRange(zval)`` (reservoir-sampled
    boundaries, no driver collect) + an in-partition sort. A
    deployment sizes fan-out to ~1 GiB files and runs off the write
    path, like compaction."""
    from ..session import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") / ZORDER_PRICE_DIV)
        .cast("bigint")
        .bitwiseAND(F.lit(255))
        .alias("price_bucket"),
        F.floor(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(ZORDER_ANCHOR)
            )
            / ZORDER_DAY_DIV
        )
        .cast("bigint")
        .bitwiseAND(F.lit(255))
        .alias("day_bucket"),
    )
    z = b.withColumn("zval", _zval_col().cast("bigint"))
    out = scratch_dir("zorder_out")
    (
        z.repartitionByRange(ZORDER_FILES, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


# X171 — write-audit-publish sink -------------------------------------------
@query(
    "wap_publish_sink",
    oracle="""
    WITH c AS (SELECT doc_id, n_chars FROM documents WHERE lang = 'en')
    SELECT 'staged_rows' AS check_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS metric,
           (SELECT COUNT(*) FROM c) > 0 AS passed
    UNION ALL
    SELECT 'null_keys',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE doc_id IS NULL),
           (SELECT COUNT(*) FROM c WHERE doc_id IS NULL) = 0
    UNION ALL
    SELECT 'dup_keys',
           (SELECT CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) FROM c),
           (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM c) = 0
    UNION ALL
    SELECT 'empty_docs',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE n_chars <= 0),
           (SELECT COUNT(*) FROM c WHERE n_chars <= 0) = 0
    UNION ALL
    SELECT 'published_rows',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c),
           TRUE
    """,
    tags=("sink", "quality", "extension"),
)
def wap_publish_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X171: WRITE-AUDIT-PUBLISH — the lakehouse release pattern
    (Iceberg WAP / Delta staging): the curated slice is written to a
    STAGED location, audited there (row volume, null keys, duplicate
    keys, empty payloads — reading back the staged files, so the audit
    sees exactly what a consumer would), and only a fully-passing
    stage is atomically published (directory swap). Consumers never
    observe a half-written or failing table; a failing audit leaves
    the previous published state untouched.

    The returned frame IS the audit log — the artifact a data-quality
    dashboard ingests; published_rows reports what went live.

    Plan: one filtered scan writes the stage; each audit is a count
    aggregate over the staged files; publish is a metadata-level
    rename (no data rewrite). Rerun-deterministic: overwrite
    semantics + content-derived audits."""
    import os

    from ..session import scratch_dir

    staged = scratch_dir("wap_staged")
    published = scratch_dir("wap_published")
    curated = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == "en"
    )
    curated.write.mode("overwrite").parquet(staged)
    back = spark.read.parquet(staged)
    n = back.count()
    n_null = back.filter(F.col("doc_id").isNull()).count()
    n_dup = n - back.select("doc_id").distinct().count()
    n_empty = back.filter(F.col("n_chars") <= 0).count()
    all_pass = n > 0 and n_null == 0 and n_dup == 0 and n_empty == 0
    n_published = 0
    if all_pass:
        # atomic publish: write-then-swap would be a true rename on a
        # real object store / HDFS; locally the overwrite-to-target
        # carries the same reader-visible contract
        if os.path.isdir(published):
            shutil.rmtree(published)
        shutil.copytree(staged, published)
        n_published = spark.read.parquet(published).count()
    rows = [
        ("staged_rows", n, n > 0),
        ("null_keys", n_null, n_null == 0),
        ("dup_keys", n_dup, n_dup == 0),
        ("empty_docs", n_empty, n_empty == 0),
        ("published_rows", n_published, all_pass),
    ]
    return spark.createDataFrame(
        rows, "check_name string, metric bigint, passed boolean"
    )


# X244 — incremental aggregate maintenance (IVM delta merge) -----------------
@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("sink", "incremental", "extension"),
)
def incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X244: INCREMENTAL VIEW MAINTENANCE for a per-key aggregate —
    the warehouse shape cdc_merge (row-level upsert) does not cover:
    a MATERIALIZED per-customer (count, revenue) aggregate is updated
    from a CDC delta batch by MERGING partial aggregates, never
    rescanning the base fact table. The oracle is the full
    re-aggregation over all orders — delta maintenance must be
    indistinguishable from recompute.

    The split is deterministic (o_orderkey % 10 == 7 is "the new
    batch", the rest is the standing corpus), so the query is
    reproducible; in production the base side IS the stored artifact.

    Exactness: both partials sum through DECIMAL(18,2) and the merge
    ADDS the two decimals — decimal addition is associative, so
    base+delta equals the one-shot sum bit-for-bit; the 4-dp round
    happens once, AFTER the merge (rounding partials first would
    double-round).

    Scale shape: the base aggregate is written once (per-key rows —
    dimension-sized, terabytes cheaper than the fact history) and each
    ingest touches ONLY the delta: one partial agg over the batch, a
    key-equi full-outer merge against the materialized frame, and a
    rewrite of the aggregate — O(|delta| + |keys|) per refresh instead
    of O(|facts|)."""
    from ..session import scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )

    def part_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "rev"
            ),
        )

    is_delta = F.col("o_orderkey") % 10 == 7
    base_path = scratch_dir("ivm_base_agg")
    part_agg(o.filter(~is_delta)).write.mode("overwrite").parquet(
        base_path
    )
    base = spark.read.parquet(base_path).select(
        F.col("o_custkey").alias("k"),
        F.col("n_orders").alias("n_b"),
        F.col("rev").alias("r_b"),
    )
    delta = part_agg(o.filter(is_delta)).select(
        F.col("o_custkey").alias("k"),
        F.col("n_orders").alias("n_d"),
        F.col("rev").alias("r_d"),
    )
    merged = base.join(delta, "k", "full_outer")
    zero = F.lit(0).cast("decimal(28,2)")
    return merged.select(
        F.col("k").alias("o_custkey"),
        (
            F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0))
        )
        .cast("bigint")
        .alias("n_orders"),
        exact_round(
            F.coalesce(F.col("r_b").cast("decimal(28,2)"), zero)
            + F.coalesce(F.col("r_d").cast("decimal(28,2)"), zero),
            4,
        ).alias("revenue"),
    )


# X277 — shard manifest (exactly-once handoff record) ----------------------
#: manifest shard count (matches the doc_shuffle_index shard fan-out).
MANIFEST_SHARDS = 16


def _manifest_sql(src: str) -> str:
    """The ONE manifest SQL template — X277's registered oracle is
    ``_manifest_sql("documents")`` and corpus_release_gate (X280)
    instantiates the SAME template for both release snapshots, so the
    gate's fingerprints cannot drift from the manifest it audits (the
    X141 verbatim-embedding discipline, realized as a shared
    template). ``src`` must expose (doc_id, text, n_chars)."""
    return f"""
    WITH a AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('m-' || CAST(doc_id AS VARCHAR)),
                                  1, 4)) AS BIGINT) % {MANIFEST_SHARDS}
               AS shard,
             CAST(('0x' || substr(md5(text), 1, 13)) AS BIGINT) AS h
      FROM {src}
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS content_fp
    FROM a GROUP BY shard
    """


def _manifest_shard() -> F.Column:
    """The manifest shard of ``doc_id``, a salted content hash."""
    salted = F.concat(F.lit("m-"), F.col("doc_id").cast("string"))
    return md5_int(salted, 4).cast("bigint") % MANIFEST_SHARDS


def _manifest_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_manifest_sql`` over any (doc_id, text,
    n_chars) frame — shared by X277 and the X280 release gate."""
    shard = _manifest_shard()
    h = md5_int("text", 13).cast("bigint")
    return (
        docs.select(
            shard.alias("shard"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            h.alias("h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("content_fp"),
        )
    )


@query(
    "shard_manifest_report",
    oracle=_manifest_sql("documents"),
    tags=("sink", "audit", "extension"),
)
def shard_manifest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X277: SHARD MANIFEST — the handoff record a training-data
    release writes next to its shards so a resuming (or downstream)
    job can verify exactly-once delivery WITHOUT re-reading content:
    per shard, the doc count, byte volume, and an ORDER-INDEPENDENT
    content fingerprint (sum of 52-bit per-doc content hashes in
    exact DECIMAL — commutative, so any partitioning/retry order
    lands the identical manifest; a dropped or duplicated doc moves
    it). wap_publish_sink gates a release on audits; THIS is the
    integrity artifact the gate checks against the previous release.

    Exactness: the fingerprint is integer-exact decimal summation —
    no IEEE, no order sensitivity; shard assignment is the md5 idiom.
    The per-doc 52-bit hashes are cast to DECIMAL(38,0) BEFORE the
    SUM on both engines, so a shard holding >~4k docs can never wrap
    a BIGINT accumulator (2^63) — the partial-agg carries exact wide
    integers end to end.

    Scale shape: one narrow projection (two md5s fused into the scan)
    + one {MANIFEST_SHARDS}-key partial-agg exchange carrying
    (shard, count, chars, 52-bit hash sums) — manifest cost is one
    map pass regardless of corpus size, and the shuffle payload is a
    fixed {MANIFEST_SHARDS} rows per task."""
    return _manifest_frame(load_table(spark, sf_dir, "documents"))


# X280 — corpus release gate (manifest-consuming admit/refuse) --------------
#: the deterministic synthetic PREVIOUS release (corpus_snapshot_diff's
#: recrawl convention): the new release ADDED every 17th doc and EDITED
#: every 13th surviving doc back from a 'prev:'-prefixed body.
_PREV_RELEASE_SRC = """(
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN 'prev:' || text
                  ELSE text END AS text,
             n_chars
      FROM documents WHERE doc_id % 17 <> 0
    )"""


def _release_gate_oracle() -> str:
    return f"""
    WITH nm AS (SELECT * FROM ({_manifest_sql("documents")})),
    pm AS (SELECT * FROM ({_manifest_sql(_PREV_RELEASE_SRC)})),
    exp AS (
      SELECT CAST(('0x' || substr(md5('m-' || CAST(doc_id AS VARCHAR)),
                                  1, 4)) AS BIGINT) % {MANIFEST_SHARDS}
               AS shard,
             MAX(CASE WHEN doc_id % 17 = 0 OR doc_id % 13 = 0
                      THEN 1 ELSE 0 END) AS expected
      FROM documents GROUP BY 1
    ),
    dj AS (
      SELECT COALESCE(n.shard, p.shard) AS shard,
             CASE WHEN n.shard IS NULL OR p.shard IS NULL
                    OR n.content_fp <> p.content_fp
                    OR n.n_docs <> p.n_docs
                    OR n.total_chars <> p.total_chars
                  THEN 1 ELSE 0 END AS drifted
      FROM nm n FULL OUTER JOIN pm p ON n.shard = p.shard
    ),
    dx AS (
      SELECT d.shard, d.drifted, COALESCE(e.expected, 0) AS expected
      FROM dj d LEFT JOIN exp e ON e.shard = d.shard
    ),
    m AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
          WHERE doc_id IS NULL) AS null_keys,
        (SELECT CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
           FROM documents) AS dup_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
          WHERE n_chars <= 0) AS empty_docs,
        (SELECT CAST(SUM(CASE WHEN n_chars <> length(text)
                              THEN 1 ELSE 0 END) AS BIGINT)
           FROM documents) AS chars_viol,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
          WHERE doc_id % 17 = 0) AS declared_adds,
        (SELECT CAST(COUNT(*) AS BIGINT)
           FROM {_PREV_RELEASE_SRC}) AS n_prev,
        (SELECT CAST(COALESCE(SUM(CASE WHEN drifted = 1 AND expected = 0
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM dx) AS undeclared,
        (SELECT CAST(COALESCE(SUM(CASE WHEN drifted = 0 AND expected = 1
                                       THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM dx) AS missing_decl
    ),
    checks AS (
      SELECT 'staged_rows' AS check_name, n_docs AS metric,
             n_docs > 0 AS passed FROM m
      UNION ALL SELECT 'null_keys', null_keys, null_keys = 0 FROM m
      UNION ALL SELECT 'dup_keys', dup_keys, dup_keys = 0 FROM m
      UNION ALL SELECT 'empty_docs', empty_docs, empty_docs = 0 FROM m
      UNION ALL SELECT 'chars_contract', chars_viol, chars_viol = 0 FROM m
      UNION ALL SELECT 'declared_adds', n_docs - n_prev,
                       n_docs - n_prev = declared_adds FROM m
      UNION ALL SELECT 'undeclared_drift', undeclared,
                       undeclared = 0 FROM m
      UNION ALL SELECT 'missing_declared_drift', missing_decl,
                       missing_decl = 0 FROM m
    )
    SELECT check_name, metric, passed FROM checks
    UNION ALL
    SELECT 'release_admitted',
           (SELECT CAST(SUM(CASE WHEN passed THEN 0 ELSE 1 END) AS BIGINT)
              FROM checks),
           (SELECT BOOL_AND(passed) FROM checks)
    """


@query(
    "corpus_release_gate",
    oracle=_release_gate_oracle(),
    tags=("sink", "audit", "quality", "extension"),
)
def corpus_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X280: the CONSOLIDATED RELEASE GATE (VERDICT r9 task 7) — the
    single admit/refuse artifact a release pipeline diffs before
    publishing a training-data snapshot. Composes the three audit
    families this engine already ships:

    - WAP-style staging audits (X171's check battery over the staged
      release): row volume, null keys, duplicate keys, empty payloads;
    - a data-contract rule (X220 discipline) on the documents schema:
      ``n_chars`` must equal ``length(text)``;
    - the MANIFEST CONSUMER the r9 shard_manifest_report (X277) was
      built for: the new release's per-shard manifest is compared
      against the PREVIOUS release's, and drift must be exactly the
      DECLARED change set — ``undeclared_drift`` (a shard moved that
      no declared add/edit touches: corruption, dropped or duplicated
      docs) and ``missing_declared_drift`` (a declared change that
      never landed) must both be zero, and the doc-count delta must
      equal the declared additions.

    The previous release is synthesized deterministically in-plan
    (corpus_snapshot_diff's recrawl convention: the new release added
    every 17th doc and re-edited every 13th survivor), so the gate is
    reproducible; in production ``pm`` IS the stored manifest of the
    last published snapshot — metadata-sized, read without touching
    old data. The final ``release_admitted`` row is the verdict a
    scheduler keys the publish step on: metric = number of failing
    checks, passed = admit.

    Oracle discipline: both manifests instantiate the ONE
    ``_manifest_sql`` template that X277's registered oracle is built
    from (X141 verbatim-embedding, realized as a shared template), so
    the gate can never drift from the manifest it consumes.

    Scale shape: each manifest is X277's shape (one narrow map pass +
    a {MANIFEST_SHARDS}-key partial agg); the drift join and expected-
    set join are {MANIFEST_SHARDS}-row frames; every corpus-level
    audit folds into ONE conditional-count aggregate per snapshot
    (X220's shape); assembly is a crossJoin of 1-row frames exploded
    into the report — nothing driver-side, nothing corpus-sized
    shuffled twice."""
    docs = load_table(spark, sf_dir, "documents")
    prev = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit("prev:"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "n_chars",
    )
    nm = _manifest_frame(docs)
    pm = _manifest_frame(prev)
    shard = _manifest_shard()
    exp = (
        docs.select(
            shard.alias("shard"),
            F.when(
                (F.col("doc_id") % 17 == 0) | (F.col("doc_id") % 13 == 0),
                1,
            )
            .otherwise(0)
            .alias("e"),
        )
        .groupBy("shard")
        .agg(F.max("e").alias("expected"))
    )
    n = nm.select(
        F.col("shard").alias("n_shard"),
        F.col("n_docs").alias("n_nd"),
        F.col("total_chars").alias("n_tc"),
        F.col("content_fp").alias("n_fp"),
    )
    p = pm.select(
        F.col("shard").alias("p_shard"),
        F.col("n_docs").alias("p_nd"),
        F.col("total_chars").alias("p_tc"),
        F.col("content_fp").alias("p_fp"),
    )
    dj = n.join(
        p, F.col("n_shard") == F.col("p_shard"), "full_outer"
    ).select(
        F.coalesce(F.col("n_shard"), F.col("p_shard")).alias("shard"),
        F.when(
            F.col("n_shard").isNull()
            | F.col("p_shard").isNull()
            | (F.col("n_fp") != F.col("p_fp"))
            | (F.col("n_nd") != F.col("p_nd"))
            | (F.col("n_tc") != F.col("p_tc")),
            1,
        )
        .otherwise(0)
        .alias("drifted"),
    )
    dx = dj.join(F.broadcast(exp), "shard", "left").select(
        "drifted", F.coalesce(F.col("expected"), F.lit(0)).alias("expected")
    )
    base = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_keys"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id"))
        .cast("bigint")
        .alias("dup_keys"),
        F.sum(F.when(F.col("n_chars") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("empty_docs"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("chars_viol"),
        F.sum(F.when(F.col("doc_id") % 17 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("declared_adds"),
    )
    prevc = prev.agg(F.count(F.lit(1)).cast("bigint").alias("n_prev"))
    drift = dx.agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("drifted") == 1) & (F.col("expected") == 0), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("undeclared"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("drifted") == 0) & (F.col("expected") == 1), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("missing_decl"),
    )
    m = base.crossJoin(F.broadcast(prevc)).crossJoin(F.broadcast(drift))
    checks = (
        ("staged_rows", F.col("n_docs"), F.col("n_docs") > 0),
        ("null_keys", F.col("null_keys"), F.col("null_keys") == 0),
        ("dup_keys", F.col("dup_keys"), F.col("dup_keys") == 0),
        ("empty_docs", F.col("empty_docs"), F.col("empty_docs") == 0),
        ("chars_contract", F.col("chars_viol"), F.col("chars_viol") == 0),
        (
            "declared_adds",
            F.col("n_docs") - F.col("n_prev"),
            (F.col("n_docs") - F.col("n_prev")) == F.col("declared_adds"),
        ),
        ("undeclared_drift", F.col("undeclared"), F.col("undeclared") == 0),
        (
            "missing_declared_drift",
            F.col("missing_decl"),
            F.col("missing_decl") == 0,
        ),
    )
    n_failed = None
    all_pass = None
    for _, _, passed in checks:
        failed = F.when(passed, 0).otherwise(1)
        n_failed = failed if n_failed is None else n_failed + failed
        all_pass = passed if all_pass is None else all_pass & passed
    structs = [
        F.struct(
            F.lit(name).alias("check_name"),
            metric.cast("bigint").alias("metric"),
            passed.alias("passed"),
        )
        for name, metric, passed in checks
    ] + [
        F.struct(
            F.lit("release_admitted").alias("check_name"),
            n_failed.cast("bigint").alias("metric"),
            all_pass.alias("passed"),
        )
    ]
    return m.select(
        F.explode(F.array(*structs)).alias("c")
    ).select("c.check_name", "c.metric", "c.passed")
