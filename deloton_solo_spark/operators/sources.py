"""Source surface — SURVEY.md §2.1 (S1 kafka_source, S2 bounded_read,
S4 table_scan).

The reference's source is a confluent-kafka Consumer over topic
"deloton" (main.py:28-43) drained by a poll loop with a wall-clock
cutoff (main.py:45-66). There is no broker in this environment, so the
S1/S2 queries replay the deterministic synthetic log *through the
Kafka wire format* — key/value/topic/partition/offset/timestamp columns
exactly as ``spark.read.format("kafka")`` would present them — and then
run the identical decode path (S3 ``from_json``) a live stream would
use. The true streaming reader (readStream + AvailableNow) lives in
``deloton_solo_spark.streaming``; it consumes the same wire schema, so
correctness proven here transfers.

Scale note: partition is assigned by user-key hash (mirroring Kafka
keyed produce), so per-user ordering survives parallel consumption —
the property the sessionizer (§2.3) depends on at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import parsing as P
from ..functions.logsim import LOG_CTE, synthetic_log
from ..functions.parity import exact_round
from ..registry import query

#: Simulated topic/partition-count (main.py:42 topic "deloton").
TOPIC = "deloton"
N_PARTITIONS = 8

#: DuckDB CTE mirroring kafka_wire() below. Consumers prepend
#: ``WITH log AS ({LOG_CTE}), wire AS ({WIRE_CTE}) ...``.
WIRE_CTE = f"""
    SELECT '{TOPIC}' AS topic,
           CAST(user_id % {N_PARTITIONS} AS INT) AS "partition",
           msg_idx AS "offset",
           CAST(user_id AS VARCHAR) AS "key",
           json_object('log', log) AS "value",
           ts
    FROM log
"""


def kafka_wire(log_df: DataFrame) -> DataFrame:
    """S1: wrap (msg_idx, user_id, ts, log) rows in the Kafka record
    shape a ``format("kafka")`` read yields: JSON-envelope value
    ``{"log": "<line>"}`` (main.py:53 reads ``i['log']``), key = the
    producing user, partition = key hash."""
    return log_df.select(
        F.lit(TOPIC).alias("topic"),
        (F.col("user_id") % N_PARTITIONS).cast("int").alias("partition"),
        F.col("msg_idx").alias("offset"),
        F.col("user_id").cast("string").alias("key"),
        F.to_json(F.struct(F.col("log").alias("log"))).alias("value"),
        "ts",
    )


def decode_kafka_value(df: DataFrame) -> DataFrame:
    """S3: the consumer-side decode — ``json.loads(value)['log']``
    (main.py:53) as ``from_json`` + field access."""
    return df.withColumn(
        "log",
        F.from_json(F.col("value"), "log string").getField("log"),
    )


# S1 ----------------------------------------------------------------------
@query(
    "kafka_source",
    oracle=f"""
    WITH log AS ({LOG_CTE}), wire AS ({WIRE_CTE})
    SELECT topic, "partition", "offset", "key",
           json_extract_string("value", '$.log') AS log
    FROM wire
    """,
    tags=("source", "kafka"),
)
def kafka_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3: produce the synthetic log through the Kafka wire format,
    then decode it back — the batch-replay equivalent of
    ``spark.read.format("kafka").option("subscribe", "deloton")``
    (main.py:28-43)."""
    wire = kafka_wire(synthetic_log(spark, sf_dir))
    return decode_kafka_value(wire).select(
        "topic", "partition", "offset", "key", "log"
    )


# S2 ----------------------------------------------------------------------
@query(
    "bounded_read",
    oracle=f"""
    WITH log AS ({LOG_CTE}), wire AS ({WIRE_CTE}),
    decoded AS (
      SELECT "offset", json_extract_string("value", '$.log') AS log
      FROM wire
    ),
    stamped AS (
      SELECT "offset", log,
             CAST(regexp_extract(log,
                 '\\d{{4}}-\\d{{2}}-\\d{{2}} \\d{{2}}:\\d{{2}}:\\d{{2}}')
               AS TIMESTAMP) AS line_ts
      FROM decoded
    )
    SELECT "offset", log FROM stamped
    WHERE line_ts < (SELECT MAX(line_ts) - INTERVAL 1 HOUR FROM stamped)
    """,
    tags=("source", "kafka"),
)
def bounded_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the bounded drain — consume until a message's *embedded*
    timestamp reaches the job cutoff (main.py:45-66, stop condition
    :54-58). Cutoff anchored to MAX(line_ts) − 1h instead of wall-clock
    for determinism; the empty-poll timeout (main.py:59-60) is subsumed
    by AvailableNow semantics in the streaming variant."""
    decoded = decode_kafka_value(kafka_wire(synthetic_log(spark, sf_dir)))
    stamped = decoded.select(
        "offset", "log", P.ts_extract(F.col("log")).alias("line_ts")
    )
    cutoff = stamped.agg(
        (F.max("line_ts") - F.expr("INTERVAL 1 HOUR")).alias("cutoff")
    )
    return (
        stamped.join(F.broadcast(cutoff))
        .filter(F.col("line_ts") < F.col("cutoff"))
        .select("offset", "log")
    )


# S4 ----------------------------------------------------------------------
@query(
    "table_scan",
    oracle="SELECT * FROM customer",
    tags=("source", "scan"),
)
def table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the full-table scan (``SELECT * FROM users``, api.py:23,30) —
    a plain parquet scan; Catalyst prunes columns / pushes predicates
    when consumers narrow it."""
    return load_table(spark, sf_dir, "customer")


# S4c/S4d — non-parquet source formats ------------------------------------
@query(
    "csv_source",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("source", "format"),
)
def csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4c: CSV round-trip — write events as headered CSV, read back
    with an explicit schema (never inference at scale: one pass, typed).
    Shortest-repr double serialization round-trips exactly."""
    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = scratch_dir("events_csv")
    ev.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).option("header", True).csv(path)


@query(
    "json_source",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("source", "format"),
)
def json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4d: JSON-lines round-trip with explicit schema — the same
    reader the streaming replay uses (streaming/pipeline.py), proven
    lossless here."""
    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = scratch_dir("events_json")
    ev.write.mode("overwrite").json(path)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(path)


@query(
    "json_gzip_source",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("source", "format"),
)
def json_gzip_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4l: GZIP-compressed JSON-lines round-trip — the wire format
    most log shippers actually deliver (vendor exports, S3 access
    logs). Spark reads ``.json.gz`` transparently, but gzip is a
    NON-SPLITTABLE codec: each file is one task regardless of size, so
    the writer's file count IS the read parallelism. The fixture
    writes 8 compressed parts to keep the scan parallel — the layout
    contract a 100 TB ingest of gzipped logs must enforce upstream
    (or re-chunk to a splittable codec like zstd-in-parquet on the
    first hop, which every other query here does)."""
    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = scratch_dir("events_json_gz")
    ev.repartition(8).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(path)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(path)


# S4e — bucketed co-located join ------------------------------------------
@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           COUNT(*) AS n_items,
           CAST(ROUND(CAST(SUM(CAST(li.l_quantity AS DECIMAL(18,2)))
                           AS DECIMAL(28,10)), 4) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    """,
    tags=("source", "bucketing", "join"),
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4e: bucket-pre-partitioned fact-fact join — both tables written
    ``bucketBy(8, orderkey)`` + sorted, so the merge join consumes the
    bucketed layout directly: NO exchange and no full sort at query
    time (asserted in tests/test_plan_shapes). This is the layout a
    100 TB deployment uses for repeated fact-fact joins: pay the
    partitioning once at write, join shuffle-free forever after.
    The follow-up groupBy keys on the bucket column, so the aggregate
    also rides the existing distribution."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("b_orders", "b_lineitem"):
        # DROP clears this session's catalog; the on-disk location can
        # survive from an earlier session and must go too.
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    bo = spark.table("b_orders")
    bl = spark.table("b_lineitem")
    j = bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
    return j.groupBy("o_orderkey", "o_custkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")), 4
        ).alias("total_qty"),
    )


# S4b — the partitioned-layout scale path ---------------------------------
@query(
    "partition_pruned_scan",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    """,
    tags=("source", "scan", "pruning"),
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4b: date-partitioned layout + partition pruning — the storage
    shape SURVEY.md §4 prescribes for the date-filter queries (Q6). The
    query lays events out partitioned by event_date (what a 100 TB
    deployment does at ingest), then filters one day: the filter becomes
    a PartitionFilter, so the scan touches ONE directory of ~1/30th of
    the data instead of every row (asserted in tests/test_plan_shapes)."""
    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = scratch_dir("events_by_date")
    ev.write.partitionBy("event_date").mode("overwrite").parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("event_date") == F.lit("2024-01-15").cast("date"))
        .select("event_id", "user_id", "event_type")
    )


# X80 — schema-evolution read (mergeSchema) -------------------------------
@query(
    "schema_evolution_read",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(NULL AS DOUBLE) AS o_totalprice, 1 AS gen
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 2 AS gen
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    tags=("source", "schema", "extension"),
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80: schema evolution on the read path — a table whose parquet
    files were written by TWO pipeline generations (gen-1 lacks the
    ``o_totalprice`` column entirely; gen-2 added it) is read back as
    ONE unified frame with ``mergeSchema=true``: old files surface the
    new column as NULL, no rewrite of historical data.

    This is how a 100 TB table evolves in practice: columns are added
    by new writers and the scan reconciles footers — the alternative
    (rewriting history) is a full-table job. Plan: still a plain
    parquet scan with pruning/pushdown; the merge happens in footer
    reconciliation at planning time, not per row."""
    from ..session import scratch_dir

    out = scratch_dir("schema_evolution_read")
    o = load_table(spark, sf_dir, "orders")
    gen1 = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus", F.lit(1).alias("gen"))
    )
    gen2 = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
                F.lit(2).alias("gen"))
    )
    gen1.write.mode("overwrite").parquet(f"{out}/g=1")
    gen2.write.mode("overwrite").parquet(f"{out}/g=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/g=1", f"{out}/g=2"
    )
    return back.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "gen",
    )


# S4f — ORC source format -------------------------------------------------
@query(
    "orc_source",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("source", "format"),
)
def orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4f: ORC round-trip — the third columnar format next to parquet
    (native in Spark, the Hive-ecosystem interchange format). Same
    pruning/pushdown machinery as the parquet scans; shortest-repr
    doubles round-trip exactly."""
    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = scratch_dir("events_orc")
    ev.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "xml_source",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("source", "format"),
)
def xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4k (new r8): XML round-trip via Spark 4's NATIVE xml data
    source (the Databricks spark-xml donation, built into sql/core
    since 4.0 — no external jar): write events under a rowTag, read
    back with an explicit schema (inference at scale means an extra
    full pass, same rule as CSV/JSON). Shortest-repr doubles
    round-trip exactly; the reader's pushdown/pruning rides the
    standard FileScan machinery."""
    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = scratch_dir("events_xml")
    (
        ev.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .save(path)
    )
    return (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "value double"
        )
        .format("xml")
        .option("rowTag", "event")
        .load(path)
    )


# S4g — corrupt-file-tolerant scan ----------------------------------------
@query(
    "corrupt_tolerant_scan",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    WHERE user_id % 2 = 0
    """,
    tags=("source", "resilience", "extension"),
)
def corrupt_tolerant_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4g: resilient scan over a directory containing a CORRUPT file —
    at 100 TB with millions of files, a truncated upload or a bad disk
    sector happens weekly, and "one bad file kills the monthly job" is
    not an acceptable failure mode. The good half of the data is
    written as real parquet, a garbage file is planted beside it, and
    the read runs with ``ignoreCorruptFiles`` so exactly the good rows
    survive (which is what the oracle asserts — the recovery is
    checked, not just 'it didn't crash').

    The flag is set per-read (``.option("ignoreCorruptFiles", ...)``),
    never session-wide: silently skipping corrupt data is a policy you
    opt into per pipeline, paired with file-count/row-count monitoring
    on the write side."""
    import os

    from ..session import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = scratch_dir("events_corrupt")
    ev.filter(F.col("user_id") % 2 == 0).write.mode("overwrite").parquet(
        path
    )
    with open(os.path.join(path, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not a real parquet footer")
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema("event_id bigint, user_id bigint, event_type string")
        .parquet(path)
    )


# S4i — binary-file source (raw-asset ingest) ----------------------------
#: bounded fixture set: one raw file per document with doc_id below this.
BINARY_SRC_MAX_DOC = 100


@query(
    "binary_file_source",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < {BINARY_SRC_MAX_DOC}
    """,
    tags=("source", "format", "multimodal", "extension"),
)
def binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4i: ``format("binaryFile")`` — the ingest path for raw assets
    (images, audio, PDFs, shards of scraped HTML) that have no
    row-oriented reader: each file becomes ONE row of (path,
    modificationTime, length, content-bytes). This is the front door of
    the multimodal family (multimodal.py consumes exactly this shape);
    at 100 TB the listing is distributed, filters on path/length push
    into the file index, and ``pathGlobFilter`` prunes non-matching
    files without ever opening them (proven here by a planted decoy
    the glob must skip).

    The fixture writes each document's text as a UTF-8 ``.txt`` file
    (driver-side loop — bounded at {BINARY_SRC_MAX_DOC} files by
    construction, a test fixture, not the operator's data path; a real
    corpus arrives as existing files). The oracle recomputes byte
    length and md5 from the same text, so the binary round-trip is
    value-checked, not just 'it read something'."""
    import os

    from ..session import scratch_dir

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARY_SRC_MAX_DOC)
        .select("doc_id", "text")
    )
    path = scratch_dir("binary_files")
    os.makedirs(path, exist_ok=True)
    for d in os.listdir(path):
        os.remove(os.path.join(path, d))
    for row in docs.collect():  # bounded fixture write (see docstring)
        with open(os.path.join(path, f"doc_{row['doc_id']}.txt"), "wb") as fh:
            fh.write(row["text"].encode("utf-8"))
    with open(os.path.join(path, "decoy.bin"), "wb") as fh:
        fh.write(b"\x00\x01not-a-doc")  # pathGlobFilter must skip this
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    return raw.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# S4h — partitioned (parallel) JDBC source --------------------------------
@query(
    "jdbc_partitioned_source",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey <= 2000
    """,
    tags=("source", "jdbc", "extension"),
)
def jdbc_partitioned_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4h: the PARALLEL JDBC scan — the shape that matters when the
    source is a database, not files: ``partitionColumn`` +
    bounds + ``numPartitions`` make every executor open its own
    connection for a key-range slice instead of funneling the whole
    table through one reader. Exercised END TO END against Spark's
    bundled embedded Derby (the ``staged_upsert`` discipline): stage
    the slice through the JDBC writer, read it back 8-way partitioned.

    Scale notes: bounds come from the table statistics a deployment
    has for free (here: the known key range); a skewed key would use
    ``predicates=[...]`` range lists instead. BIGINT/DOUBLE round-trip
    bit-exactly through Derby, so the oracle is the plain parquet
    slice."""
    import os

    from ..session import scratch_dir

    batch = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    url = f"jdbc:derby:{scratch_dir('jdbc_part_src')}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    batch.write.mode("overwrite").jdbc(url, "orders_slice", properties=props)
    out = spark.read.jdbc(
        url,
        "orders_slice",
        column="o_orderkey",
        lowerBound=1,
        upperBound=2000,
        numPartitions=8,
        properties=props,
    )
    if os.path.exists("derby.log"):  # embedded Derby drops it in cwd
        os.remove("derby.log")
    return out


# S4j — raw text-lines source ----------------------------------------------
@query(
    "text_lines_source",
    oracle="""
    SELECT CAST(split_part(line, chr(9), 1) AS BIGINT) AS doc_id,
           split_part(line, chr(9), 2) AS text,
           CAST(length(line) AS BIGINT) AS line_len
    FROM (
      SELECT CAST(doc_id AS VARCHAR) || chr(9) || text AS line
      FROM documents
    )
    """,
    tags=("source", "format"),
)
def text_lines_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4j: RAW TEXT source — ``spark.read.text``, the format every
    crawl/log pipeline starts from before schemas exist: one string
    column per line, structure recovered by the engine (first-tab
    split back into (doc_id, text); the corpus is tab/newline-free,
    asserted by the oracle simply matching). Completes the format
    family: parquet / csv / json / orc / jdbc / binary / text.

    Plan: the text reader is splittable and schema-free (no inference
    pass); the split is one narrow codegen projection. Round-trip is
    rerun-deterministic (overwrite semantics, content-derived
    lines)."""
    from ..session import scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias(
            "value"
        )
    )
    path = scratch_dir("docs_text")
    docs.write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    tab_idx = F.instr("value", "\t")
    return lines.select(
        F.substring("value", F.lit(1), tab_idx - 1)
        .cast("bigint")
        .alias("doc_id"),
        F.substring(
            "value", tab_idx + 1, F.length("value") - tab_idx
        ).alias("text"),
        F.length("value").cast("bigint").alias("line_len"),
    )
