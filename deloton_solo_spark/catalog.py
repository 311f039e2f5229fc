"""Table catalog: load the driver's parquet tables, normalized.

Replaces the reference's implicit schema model (tables pre-exist in
Postgres, schemas derived from dict keys at insert time,
sql_wrapper.py:41) with explicit, typed DataFrames. Covers:

- S4 ``table_scan``  (api.py:23,30) — full scans become
  ``spark.read.parquet`` with Catalyst column pruning / predicate
  pushdown reaching the parquet reader.
- S7 ``catalog_list_tables`` (test.ipynb cell-3) —
  ``spark.catalog.listTables`` over registered temp views.

Schema memo: Spark runs one job per ``spark.read.parquet`` just to read
a footer and infer the schema. ``load_table`` infers each single-file
footer schema once per process and reads the file with that schema on
every later call, which launches no job. The memo is keyed by what the
file contains (its parquet footer schema, plus the session values of
the confs that change inference), never by path or mtime, so a file
rewritten in place with another schema is inferred again. It is a
``memo.Memo`` of 256 schemas, the least recently used evicted first.

Resolved frames: ``load_table`` returns a new relation on every call,
so self-joins of two loads never alias columns. Frames are reused only
by ``api``'s resolver, which calls ``load_table`` once per session,
file content (``memo.input_identity``) and time zone and broadcast
threshold, and holds a broadcast-sized route frame as a driver-local
relation (8 frames at most, so at most 8 × the threshold).

Scale note: at 100 TB these would be partitioned/bucketed external
tables; the loaders keep all reads as plain parquet scans so partition
pruning and row-group filter pushdown apply unchanged.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .memo import Memo
from .session import apply_runtime_confs

#: Tables the driver ships at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Scale-adaptive scan parallelization (optimization guide §1.2
    step 1 / §2.5 input skew): hash-repartition ``df`` to the session's
    ``defaultParallelism`` ONLY when its source scan yields fewer
    partitions than that.

    Why: the local harness tables are single parquet files with ONE row
    group, so every scan is a single task — a compute-heavy projection
    fused into such a scan (md5 grams, regex tokenization, HOF folds)
    runs on 1 of N cores. At deploy scale (input files ≥ cores, or a
    multi-row-group file the reader splits) the condition never fires
    and NO exchange enters the plan — the partitioning is derived from
    the input at runtime, never a local constant (guide §2: make
    partitioning scale-adaptive).

    With ``keys`` the repartition hashes those columns (deterministic
    under task retry — guide §2.5's warning about rand-derived keys);
    callers pass the frame's primary key. Results are unchanged for any
    partitioning-insensitive plan (all callers are aggregations /
    joins / distincts over the spread frame)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def no_pushdown(cond: F.Column) -> F.Column:
    """AND ``cond`` with an always-true NONDETERMINISTIC term so the
    optimizer cannot move the filter.

    Why (r11, measured): predicate pushdown moves a filter below a
    spread/repartition exchange WITH ITS DERIVED-COLUMN DEFINITIONS
    SUBSTITUTED IN — a filter on ``size(tokens) >= n`` arrives at the
    scan as ``size(regexp_extract_all(...)) >= n``, re-running the
    whole tokenization single-task before the exchange that exists to
    parallelize it (and again above, in the real projection). A
    non-deterministic conjunct pins the filter exactly where it is
    written (the guide §4.4 trick, applied to pure SQL expressions).
    ``monotonically_increasing_id() >= 0`` is identically true, so the
    filter's row set — and every result — is unchanged."""
    return cond & (F.monotonically_increasing_id() >= 0)


#: Session confs that change the schema Spark infers from a parquet
#: footer; their values are part of the schema memo's key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
#: Footer key-value entry holding the schema of a file Spark wrote;
#: Spark's inference prefers it to the parquet schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: Footer schemas already inferred, keyed by ``_footer_key``. The
#: tier-1 suite peaks at 16 entries, a batch benchmark run at 3 and a
#: serve run at 2, so it never evicts.
_SCHEMA_MEMO = Memo(256)


def _footer_key(spark: SparkSession, path: str) -> tuple | None:
    """The schema memo's key for a single parquet file: its footer
    schema as parquet stores it, Spark's own schema entry if the footer
    has one, and the inference confs. ``None`` for a directory, a
    non-local path or a footer pyarrow cannot read.

    The parquet schema, not the Arrow schema ``pq.read_schema``
    returns, because two footers can map to one Arrow type but to
    different Spark types: INT96 and INT64 TIMESTAMP(NANOS) are both
    Arrow ``timestamp[ns]``, while Spark reads them as timestamp and
    bigint."""
    if not os.path.isfile(path):
        return None
    try:
        meta = pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None
    # str() of a ParquetSchema opens with a line naming the object's address
    schema = str(meta.schema).split("\n", 1)[1]
    spark_schema = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return schema, spark_schema, confs


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a single file's schema
    only on a memo miss."""
    key = _footer_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMA_MEMO.get_or_put(
        key, lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table, normalizing types.

    A single-file table's schema is inferred once per footer schema and
    inference-conf values (at most 256 are kept, the least recently
    used evicted first); later calls read with the memoized schema,
    which launches no Spark job. Each call still returns a new relation
    with its own attribute IDs, so self-joins of two loads never alias
    columns. A directory is inferred on every call.

    ``events.ts`` has shipped in two physical shapes across testdata
    generations, and this loader normalizes BOTH to a session-TZ
    TimestampType so every downstream operator sees one type:

    - parquet TIMESTAMP(NANOS): Spark (with ``nanosAsLong``) reads it as
      a long of epoch-nanos → ``timestamp_micros(ts div 1000)``.
    - parquet timestamp[us] without UTC adjustment: Spark 4.x reads it
      as TIMESTAMP_NTZ → plain cast. Sessions are pinned to UTC
      (session.py), so the wall-clock values are preserved exactly and
      the semantics match the nanos path bit-for-bit.
    """
    apply_runtime_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Storage-shape defense, ALL tables (round-2 lesson generalized —
    # the driver has regenerated testdata with different physical time
    # types once; don't assume it only ever happens to events.ts):
    # every temporal column lands as ONE type, session-TZ TIMESTAMP.
    # Sessions are UTC-pinned (session.py), so casting NTZ/DATE
    # preserves wall-clock values exactly, and Catalyst folds the cast
    # away when the column is already TIMESTAMP.
    for col_name, dtype in df.dtypes:
        if dtype in ("timestamp_ntz", "date"):
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


#: Expected dtypes after ``load_table`` normalization — the schema-drift
#: pre-flight contract. If the driver regenerates testdata with different
#: physical types, ``assert_schemas`` fails loudly in ONE place with the
#: drifted column named, instead of scattering AnalysisExceptions across
#: every query that touches the column (the round-2 failure mode).
EXPECTED_SCHEMAS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",  # post-normalization; raw may be ntz/date
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",  # post-normalization; raw may be ntz/date
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",  # post-normalization; raw may be bigint/ntz
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


class SchemaDriftError(RuntimeError):
    """Raised by :func:`assert_schemas` when testdata types drift."""


def assert_schemas(spark: SparkSession, sf_dir: str) -> None:
    """Pre-flight: verify every table's post-normalization dtypes.

    Invoked by tools/driver_sim.py and the test conftest so a
    future testdata regeneration that changes physical types fails here
    with one descriptive message naming the table+column, rather than as
    18 scattered DATATYPE_MISMATCH AnalysisExceptions mid-run.
    """
    drifted: list[str] = []
    for name, expected in EXPECTED_SCHEMAS.items():
        actual = dict(load_table(spark, sf_dir, name).dtypes)
        for col_name, want in expected.items():
            got = actual.get(col_name)
            if got != want:
                drifted.append(
                    f"{name}.{col_name}: expected {want!r}, got {got!r}"
                )
        for extra in sorted(set(actual) - set(expected)):
            drifted.append(f"{name}.{extra}: unexpected column ({actual[extra]!r})")
    if drifted:
        raise SchemaDriftError(
            "Testdata schema drift detected in "
            + sf_dir
            + " — the driver likely regenerated parquet with different "
            "physical types. Update catalog.load_table normalization "
            "and/or EXPECTED_SCHEMAS. Drifted: "
            + "; ".join(drifted)
        )


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every table as a temp view; returns the names."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLES)
