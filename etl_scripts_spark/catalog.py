"""Table catalog: schemas, loaders, and the star-schema → entity-model mapping.

The reference's "database" is an entity graph (Space → Project → Experiment →
Sample → DataSet + a sample parent/child DAG + a path-info files table) — see
SURVEY.md §1.1 and FIXTURES.md §1.  The driver-provided test corpus is a
TPC-H-ish star schema (TESTDATA.md), so this module provides *deterministic
derivation views* that re-express the star schema as the entity model
(FIXTURES.md §6 binding).  Every derivation here has a byte-identical DuckDB
twin in :mod:`etl_scripts_spark.oracle` — keep the two in sync.

Derivation contract (the only place it is defined for Spark):
  - project_code(custkey)  = 'Q' + 3 base-26 letters of custkey + 'X'
  - sample barcode         = project_code + zero-padded (custkey % 999 + 1)
                             + class letter 'A' + mod-34 checksum char
                             (reference algorithm: register-iontorrent-data.py:79-94)
  - experiment id          = '/SPACE_<k>/<project>/<project>E<orderkey>'
  - files                  = one row per lineitem, path-info DB shape
                             (reporting-plugins/query-files/script.py:2-6)
  - sample_parents         = customer→nation→region coded edges (the DAG)
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .expressions import barcode_checksum_char

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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table.

    The schema comes from the file's footer (:func:`_footer_schema`), so
    loading a table starts no Spark job; Spark infers it only for a file
    the footer reader declines."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read
        # natively; read nanos as long, then truncate to micros exactly
        # (integer division — no double round-trip), matching DuckDB's
        # ns→µs truncation of the same file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _footer_schema(spark, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    return normalize_events(df) if name == "events" else df


# Arrow types whose inferred Spark type depends on no session conf.
# `_footer_schema` also maps binary, decimal128, timestamp and one level of
# list; every other arrow type (unsigned, dictionary, large_*, map, struct,
# float16, ...) is left to Spark's inference.
_FOOTER_TYPES = {
    "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
    "int64": T.LongType(), "float": T.FloatType(), "double": T.DoubleType(),
    "bool": T.BooleanType(), "string": T.StringType(), "date32[day]": T.DateType(),
}


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's parquet inference gives one local file, read from
    its footer on the driver (pyarrow, ~1 ms) instead of by the one-task
    ``parquet at`` job that ``spark.read.parquet(path)`` runs.

    Reads the footer on every call (nothing to invalidate) and follows the
    session's confs: ``inferTimestampNTZ.enabled`` (zone-less timestamps),
    ``legacy.parquet.nanosAsLong`` (TIMESTAMP(NANOS)), ``int96AsTimestamp``
    and ``binaryAsString``.  Timestamps map from the parquet column, not the
    arrow type: pyarrow reports INT96 as ``timestamp[ns]``, which Spark
    reads as TIMESTAMP.  Every field is nullable, as inference makes it.

    A file Spark wrote carries its schema in the footer key
    ``org.apache.spark.sql.parquet.row.metadata``, which Spark's inference
    reads whatever the confs say; that schema is returned, made nullable.

    Returns None, so that Spark infers (or raises its own error), for
    anything but a plain local file (a remote filesystem is never opened),
    an unreadable footer or Spark schema, and any type outside the
    allow-list.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    url = urlparse(path)
    if url.scheme == "file":
        local = url.path
    elif url.scheme == "" and str(
        spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    ).startswith("file:"):
        local = path
    else:
        return None
    if not os.path.isfile(local):
        return None  # a directory, a glob or a missing path
    try:
        pf = pq.ParquetFile(local)
        arrow = pf.schema_arrow
    except Exception:
        return None
    spark_schema = (pf.metadata.metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    if spark_schema is not None:
        try:
            return _nullable(T.StructType.fromJson(json.loads(spark_schema)))
        except (ValueError, KeyError, TypeError):
            return None

    def on(key: str) -> bool:
        return spark.conf.get(f"spark.sql.{key}").lower() == "true"

    def spark_type(at: pa.DataType, i: int) -> T.DataType | None:
        """Spark type of arrow type ``at`` read from leaf column ``i``."""
        if str(at) in _FOOTER_TYPES:
            return _FOOTER_TYPES[str(at)]
        if pa.types.is_binary(at):
            return T.StringType() if on("parquet.binaryAsString") else T.BinaryType()
        if pa.types.is_decimal128(at):
            return T.DecimalType(at.precision, at.scale)
        if not pa.types.is_timestamp(at):
            return None
        leaf = pf.schema.column(i)
        if leaf.physical_type == "INT96":
            return T.TimestampType() if on("parquet.int96AsTimestamp") else None
        ts = json.loads(leaf.logical_type.to_json())
        if ts.get("Type") != "Timestamp":
            return None
        if ts["timeUnit"] == "nanoseconds":
            return T.LongType() if on("legacy.parquet.nanosAsLong") else None
        if ts["isAdjustedToUTC"] or not on("parquet.inferTimestampNTZ.enabled"):
            return T.TimestampType()
        return T.TimestampNTZType()

    fields = []
    # Every allowed field is one parquet leaf column, so field i reads leaf
    # i until the first field outside the allow-list ends the mapping.
    for i, f in enumerate(arrow):
        dt = None
        if not pa.types.is_list(f.type):
            dt = spark_type(f.type, i)
        elif not pa.types.is_list(f.type.value_type):
            elem = spark_type(f.type.value_type, i)
            dt = None if elem is None else T.ArrayType(elem, containsNull=True)
        if dt is None:
            return None
        fields.append(T.StructField(f.name, dt, nullable=True))
    return T.StructType(fields)


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable — the
    schema a parquet read gives whatever the file declares."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def literal_table(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """A driver-side list of tuples as a DataFrame planned as a
    `LocalRelation`, so no job that scans it starts a Python task.

    `spark.createDataFrame(<list>, schema)` plans a scan of a Python RDD
    (every job over it runs `defaultParallelism` Python tasks); built
    from an Arrow table it is a local relation, whatever the session's
    Arrow conf.  `schema` is a StructType or a DDL string.  A naive
    datetime is a session-local timestamp, as `createDataFrame` reads it
    from a list."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema, timestamp_utc=False)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=arrow)
    return spark.createDataFrame(table, schema)


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load + widen partitioning for CPU-heavy downstream projections.

    The driver's test parquet files are single-row-group, so the scan yields
    ONE input split and per-row-expensive operators (minhash, simhash,
    checksum generation) would run single-threaded.  A production table has
    many row groups / files and never needs this; locally one small shuffle
    buys full-core parallelism.  No-op when the scan is already split.
    """
    df = load(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def normalize_events(events: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP (µs precision, UTC session TZ).

    Handles every encoding the driver testdata has shipped:
      - BIGINT nanos-since-epoch (legacy ``nanosAsLong`` read) → truncate to µs
      - TIMESTAMP_NTZ (parquet timestamp[us], no TZ; Spark 4 inference) →
        reinterpret as UTC instant — exact, because the session TZ is pinned
        UTC (:mod:`..session`), matching DuckDB's read of the same file
      - TIMESTAMP → passthrough
    """
    dtype = dict(events.dtypes).get("ts")
    if dtype == "bigint":
        events = events.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dtype == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


# --- star-schema → entity-model derivations -------------------------------

def project_code(custkey: Column) -> Column:
    """5-char project code 'Q' + base-26(custkey) letters + 'X'.

    Mirrors the reference's project prefix Q[A-Z0-9]{4}
    (register-fastq-dropbox.py:21); deterministic from the key so the DuckDB
    oracle can reproduce it.
    """
    l1 = F.char(custkey % 26 + 65)
    l2 = F.char((custkey / 26).cast("long") % 26 + 65)
    l3 = F.char((custkey / 676).cast("long") % 26 + 65)
    return F.concat(F.lit("Q"), l1, l2, l3, F.lit("X"))


def sample_code9(custkey: Column, class_char: str = "A") -> Column:
    """9-char barcode prefix: project(5) + 3-digit number + class letter."""
    num = F.lpad((custkey % 999 + 1).cast("string"), 3, "0")
    return F.concat(project_code(custkey), num, F.lit(class_char))


def sample_barcode(custkey: Column, class_char: str = "A") -> Column:
    """Full 10-char QBiC barcode incl. mod-34 checksum char."""
    code9 = sample_code9(custkey, class_char)
    return F.concat(code9, barcode_checksum_char(code9))


def samples_view(customer: DataFrame) -> DataFrame:
    """`samples` entity table (FIXTURES.md §1) derived from `customer`."""
    return customer.select(
        sample_barcode(F.col("c_custkey")).alias("code"),
        F.concat(F.lit("SPACE_"), (F.col("c_custkey") % 5).cast("string")).alias("space"),
        project_code(F.col("c_custkey")).alias("project"),
        F.lit("Q_TEST_SAMPLE").alias("type"),
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("secondary_name"),
        F.col("c_mktsegment").alias("tissue"),
        F.col("c_nationkey").alias("nationkey"),
    )


def experiments_view(orders: DataFrame) -> DataFrame:
    """`experiments` entity table derived from `orders`.

    experiment_id mirrors the reference's path-identifier scheme
    ('/' + space + '/' + project + '/' + project + 'E' + n,
    register-fastq-dropbox.py:109-110).
    """
    proj = project_code(F.col("o_custkey"))
    space = F.concat(F.lit("SPACE_"), (F.col("o_custkey") % 5).cast("string"))
    return orders.select(
        F.concat(
            F.lit("/"), space, F.lit("/"), proj, F.lit("/"), proj,
            F.lit("E"), F.col("o_orderkey").cast("string"),
        ).alias("experiment_id"),
        space.alias("space"),
        proj.alias("project"),
        F.when(F.col("o_orderstatus") == "O", F.lit("Q_NGS_MEASUREMENT"))
        .otherwise(F.lit("Q_MS_MEASUREMENT"))
        .alias("type"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("orderdate"),
        F.col("o_orderstatus").alias("status"),
    )


def files_view(lineitem: DataFrame) -> DataFrame:
    """`files` path-info table derived from `lineitem`.

    Shape of the reference's path-info DB (data_sets ⋈ data_set_files,
    query-files/script.py:2-6).  Every third file sits in an 'original'
    folder, matching the folder-exclusion the query-files plugin applies.
    """
    folder = F.when(F.col("l_linenumber") % 3 == 0, F.lit("original")).otherwise(F.lit("data"))
    fname = F.concat(F.lit("f_"), F.col("l_linenumber").cast("string"), F.lit(".fastq.gz"))
    return lineitem.select(
        F.concat(F.lit("DS-"), F.col("l_orderkey").cast("string")).alias("dataset_code"),
        F.concat(
            F.lit("store/"), F.col("l_orderkey").cast("string"), F.lit("/"), folder, F.lit("/"), fname
        ).alias("relative_path"),
        fname.alias("file_name"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("size_in_bytes"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
    )


def sample_parent_edges(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """`sample_parents` DAG edges: customer→nation→region, coded.

    Stand-in for the ENTITY → BIO_SAMPLE → TEST_SAMPLE tier DAG
    (register-mtb-data-dropbox.py:699-724); two tiers of edges let the
    lineage fixpoint operator run to a real fixpoint.
    """
    c_edges = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("child_code"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("parent_code"),
    )
    n_edges = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("child_code"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("parent_code"),
    )
    return c_edges.unionByName(n_edges)


def vocabularies_view(nation: DataFrame) -> DataFrame:
    """Vocabulary dimension (Q_NCBI_TAXONOMY-style term→label lookup,
    get-experimental-design-tsv/script.py:42-48,70)."""
    return nation.select(
        F.lit("Q_NCBI_TAXONOMY").alias("vocabulary"),
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("code"),
        F.col("n_name").alias("label"),
    )
