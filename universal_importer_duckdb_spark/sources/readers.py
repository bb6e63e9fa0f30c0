"""Sources: CSV (the reference's only source, main.py:432) + Parquet,
with explicit ingest-order stamping.

Spark has no stable implicit row order (the reference leans on DuckDB
ROWID — main.py:135); ``_ingest_ord`` is stamped once at read time and
carried through the pipeline for first/last dedup and 1-based error
``row`` numbers (SURVEY.md §7.3).

The stamp is file order, computed entirely JVM-side:
``spark_partition_id`` + the per-partition-consecutive counter inside
``monotonically_increasing_id``, plus a broadcast join against
cumulative per-partition offsets (one small count job over
#partitions rows). No ``df.rdd``, no Python pickle round-trip of the
data — the whole stamp stays in whole-stage codegen. (The pipeline's
counted run needs no stamp at all: it takes the offsets from its one
routing aggregate, see plans/pipeline.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

INGEST_ORD = "_ingest_ord"


def with_ingest_order(df: DataFrame) -> DataFrame:
    """Add ``_ingest_ord``: the dense 1-based file-order ordinal."""
    # monotonically_increasing_id = (partition_id << 33) + consecutive
    # row counter, so (mid - min(mid) per partition) is the local row
    # index — computed without any window over the data.
    stamped = df.select(
        "*",
        F.spark_partition_id().alias("__ord_pid"),
        F.monotonically_increasing_id().alias("__ord_mid"),
    )
    stats = stamped.groupBy("__ord_pid").agg(
        F.count(F.lit(1)).alias("__ord_n"),
        F.min("__ord_mid").alias("__ord_base"),
    )
    # #partitions rows: the single-partition window here is over
    # metadata, not data.
    w = Window.orderBy("__ord_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.select(
        "__ord_pid",
        "__ord_base",
        F.coalesce(F.sum("__ord_n").over(w), F.lit(0)).alias("__ord_off"),
    )
    return (
        stamped.join(F.broadcast(offsets), "__ord_pid")
        .withColumn(
            INGEST_ORD,
            (F.col("__ord_mid") - F.col("__ord_base") + F.col("__ord_off") + F.lit(1)).cast(
                "long"
            ),
        )
        .drop("__ord_pid", "__ord_mid", "__ord_base", "__ord_off")
    )


def read_csv_with_ingest_order(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV read as all-strings (validation casts later, so we
    keep raw values for faithful error records), then ordinal-stamped."""
    df = spark.read.option("header", True).option("inferSchema", False).csv(path)
    return with_ingest_order(df)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines source (schema string recommended at scale — schema
    inference is a full extra pass over the data)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_with_corrupt_capture(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines read in PERMISSIVE mode with malformed rows captured
    instead of dropped — the errors-as-data contract (reference
    main.py:367-399) extended to the ingest boundary: returns
    ``(good, corrupt)`` where ``corrupt`` carries the raw offending
    line for the typed error sink.

    Parsing goes through text + ``from_json`` (same PERMISSIVE
    corrupt-capture machinery as the native reader) rather than the
    JSON reader's internal ``_corrupt_record`` column: Spark refuses
    plans that reference ONLY that internal column on an
    un-materialized JSON scan, so a reader-based ``corrupt`` handle
    stays valid only while a cache entry happens to cover it — it
    breaks the moment any cache sweep (release_scoped, clearCache)
    lands. A struct field from from_json has no such restriction; the
    returned handles are plain DataFrames valid forever. Callers
    consuming BOTH frames in one job should ``scoped_cache`` the
    inputs themselves if the double text scan matters."""
    corrupt_col = "_corrupt_record"
    parsed = (
        spark.read.text(path)
        .filter(F.trim(F.col("value")) != "")  # reader skips blank lines
        .select(
            F.from_json(
                F.col("value"),
                f"{schema}, {corrupt_col} string",
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
            ).alias("r")
        )
    )
    good = (
        parsed.filter(F.col(f"r.{corrupt_col}").isNull())
        .select("r.*")
        .drop(corrupt_col)
    )
    corrupt = parsed.filter(F.col(f"r.{corrupt_col}").isNotNull()).select(
        F.col(f"r.{corrupt_col}").alias("raw_record")
    )
    return good, corrupt


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: str | None = None,
) -> DataFrame:
    """XML source (built into Spark 4: the former spark-xml package
    moved in-tree). ``row_tag`` names the repeating element that
    becomes one row; attributes surface as ``_attr`` columns. Schema
    string recommended at scale — inference is an extra full pass."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_xml_with_corrupt_capture(
    spark: SparkSession, path: str, row_tag: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """XML read with malformed rows captured instead of dropped —
    the same errors-as-data contract as
    ``read_json_with_corrupt_capture`` (reference main.py:367-399).

    XML rows span physical lines, so the text+from_json trick the
    JSON reader uses isn't available; instead the PERMISSIVE parse is
    materialized ONCE via localCheckpoint. That sidesteps Spark's
    corrupt-column-only query restriction AND makes both returned
    handles durable across cache sweeps (a plain .cache() here would
    break on the first release_scoped/clearCache — the JSON reader's
    docstring documents that failure mode). Cost: the read is eager;
    at scale prefer splitting well-formed from malformed files
    upstream or converting to JSONL at the ingest boundary."""
    corrupt_col = "_corrupt_record"
    df = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(f"{schema}, {corrupt_col} string")
        .load(path)
        .localCheckpoint()
    )
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    corrupt = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return good, corrupt


def read_text(
    spark: SparkSession, path: str, whole: bool = False, line_sep: str | None = None
) -> DataFrame:
    """Plain-text source: one row per line (``value`` string), or one
    row per file with ``whole=True`` (document-corpus ingestion — each
    file becomes one document; Spark still parallelizes across
    files)."""
    # NB: must be the text() kwarg — .option("wholetext", ...) is
    # silently ignored by the text source
    return spark.read.text(path, wholetext=whole, lineSep=line_sep)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file source for multimodal ingestion: one row per file
    with (path, modificationTime, length, content binary) — the raw
    bytes feed operators/multimodal.py feature extraction. At scale,
    pair with ``pathGlobFilter`` so pruning happens at file-listing
    time, before any byte is read."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source via Spark's built-in-but-external avro module —
    the same optional-dependency swap-point pattern as the
    PIL/soundfile/PyAV codecs (multimodal.py): the read works
    unchanged wherever the deployment ships the spark-avro module
    (it is part of the Apache Spark distribution's external modules,
    absent from this container's classpath); here the missing module
    surfaces as one actionable error instead of Spark's generic
    datasource failure."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.format("avro").load(path)
    except AnalysisException as ex:
        if "Failed to find data source: avro" in str(ex):
            raise NotImplementedError(
                "Avro needs the spark-avro external module on the "
                "classpath (ships with the Apache Spark distribution; "
                "add it via --packages org.apache.spark:spark-avro or "
                "the deployment's jars dir). The reader itself is "
                "complete — no code change needed once deployed."
            ) from ex
        raise


FORMAT_READERS = {
    "csv": read_csv_with_ingest_order,
    "parquet": read_parquet,
    "json": read_json,
    "orc": read_orc,
    "txt": read_text,
    # XML needs a rowTag; read_source dispatches with the conventional
    # default "row" — callers with real layouts use read_xml directly
    "xml": lambda spark, path: read_xml(spark, path, "row"),
    "avro": read_avro,
}


def read_source(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Format-dispatched read; format inferred from the extension when
    not given (the config `source` key stays a bare path, as in the
    reference)."""
    if fmt is None:
        fmt = path.rsplit(".", 1)[-1].lower()
    if fmt not in FORMAT_READERS:
        raise ValueError(f"Unsupported source format '{fmt}'")
    return FORMAT_READERS[fmt](spark, path)
