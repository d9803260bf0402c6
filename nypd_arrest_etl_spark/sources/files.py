"""File sources with the reference's scan contracts (SURVEY.md §2a).

- S3: CSV scan — explicit schema (never inferSchema in prod), header,
  required-column validation (import_csv.py:21-53).
- S4: JSON Lines scan — explicit schema skips inference
  (transform.py:64, load.py:189).
- S5: required-column check raises on a structurally bad file
  (extract.py:118-122, import_csv.py:37-41).
- S2: high-watermark probe over the target table.

The reference's 50k/100k chunking disappears: partitions are the unit
of parallelism and ``spark.sql.files.maxPartitionBytes`` bounds memory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nypd_arrest_etl_spark.schema import RAW_SCHEMA, REQUIRED_COLUMNS


class MissingRequiredColumns(ValueError):
    pass


def validate_required(df: DataFrame, required: tuple[str, ...] = REQUIRED_COLUMNS) -> DataFrame:
    """S5: structural check against df.schema — fails fast, no job run."""
    have = {c.lower() for c in df.columns}
    missing = [c for c in required if c.lower() not in have]
    if missing:
        raise MissingRequiredColumns(f"scan missing required columns: {missing}")
    return df


def read_csv(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S3. PERMISSIVE mode keeps malformed rows as nulls (the clean
    stage's required-key filter drops them) rather than failing the job.

    NOTE: an explicit CSV schema binds by POSITION, not header name —
    a source file with a column subset would silently misalign. So by
    default we bind names from the header with all-string types
    (inferSchema=False: single pass, no sampling) and let the clean
    stage coerce types; pass ``schema`` only for headerless files
    whose layout is known.
    """
    if schema is not None:
        df = spark.read.csv(path, header=True, schema=schema, mode="PERMISSIVE")
    else:
        df = spark.read.csv(path, header=True, inferSchema=False, mode="PERMISSIVE")
    return validate_required(df)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S4. Explicit schema: no sampling pass over 100 TB of JSON.

    The default path must honor the reference's T1 contract — a batch
    may arrive with UPPERCASE keys (transform.py:68-76) — but Spark's
    JSON reader binds an explicit schema's field names CASE-SENSITIVELY,
    which would silently null (and then drop) every such row. So we
    parse each line once into ``map<string,variant>`` and bind the
    expected columns case-insensitively ourselves: still a single-pass,
    inference-free scan (safe at 100 TB), robust to nested values like
    ``lon_lat``, and unlike the reference it survives casing that is
    mixed row-to-row within one batch. Pass ``schema`` to take the
    pruned struct fast path when the producer's casing is known.
    """
    if schema is not None:
        df = spark.read.schema(schema).json(path)
        return validate_required(df)

    lines = spark.read.text(path)
    parsed = lines.select(
        F.from_json("value", "map<string,variant>").alias("m")
    )
    # Case-fold keys and cast variant->string in ONE pass over the
    # entries (casts per present entry ~10, not per probed column 18 —
    # variant casts dominate bind cost), then drop all but the FIRST
    # occurrence of each folded key before building the lookup map:
    # first-wins matches the reference's precedence (the lowercase
    # column is used when both casings appear, transform.py:68-76) and
    # map_from_entries would otherwise throw on duplicates under the
    # default mapKeyDedupPolicy — no session conf required. Each array
    # is bound to a real column before the next lambda references it
    # (an inlined expression re-evaluates per element).
    ents = F.transform(
        F.map_entries("m"),
        lambda e: F.struct(
            F.lower(e["key"]).alias("key"),
            e["value"].try_cast("string").alias("value"),
        ),
    )
    bound = parsed.select(ents.alias("ents")).select(
        "ents", F.transform("ents", lambda e: e["key"]).alias("keys")
    )
    m2 = F.map_from_entries(
        F.filter(
            "ents", lambda e, i: F.array_position(F.col("keys"), e["key"]) == i + 1
        )
    )
    low = bound.select(m2.alias("m2"))
    df = low.select(
        *[F.try_element_at("m2", F.lit(c)).alias(c) for c in RAW_SCHEMA.fieldNames()]
    )
    return validate_required(df)


def has_data_files(table_path: str) -> bool:
    """Whether a table directory holds a data file. Like Spark's file
    index, skip names that start with ``_`` or ``.`` (``_SUCCESS``,
    ``.crc`` checksums, ``_temporary``) but descend ``k=v`` partitions."""
    for _root, dirs, files in os.walk(table_path):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


def high_watermark(spark: SparkSession, table_path: str, col: str = "arrest_date", default: str = "1900-01-01"):
    """S2: MAX(col) over the target (extract.py:42-54). The default is
    returned only for a target that is absent or holds no data files (a
    first run that inserted nothing leaves just ``_SUCCESS``); any read
    error raises, since a default watermark would re-admit all history.
    A partition-pruned scan when the table is partitioned by year(col) —
    only partition metadata + max per file footer is touched."""
    if not has_data_files(table_path):
        return default
    df = spark.read.parquet(table_path)
    if "arrest_year" in df.columns:
        # two-step: max partition value prunes the real scan to the
        # newest year directory (footer-only elsewhere)
        ymax = df.agg(F.max("arrest_year")).collect()[0][0]
        if ymax is not None:
            df = df.filter(F.col("arrest_year") == ymax)
    row = df.agg(F.max(col).alias("hwm")).collect()[0]
    return row["hwm"] or default


def incremental_filter(df: DataFrame, hwm, col: str = "arrest_date") -> DataFrame:
    """The reference pushes `arrest_date > hwm` into the Socrata API
    (extract.py:60-64); here Catalyst pushes it into the file scan."""
    return df.filter(F.col(col) > F.lit(hwm))


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan (built-in vectorized reader; same pushdown /
    pruning behavior as parquet). Schema rides the file footer — no
    inference pass. Required-column contract applies as for S3/S4."""
    return validate_required(spark.read.orc(path))


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink twin of the parquet target — for stacks standardized
    on ORC (Hive-lineage warehouses). Snappy-by-default, splittable."""
    df.write.mode(mode).orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    validate: bool = True,
) -> DataFrame:
    """XML scan (Spark 4 native spark-xml, StAX-based): one row per
    ``row_tag`` element, schema inferred (or pass ``.schema(...)`` on a
    raw reader for production). Socrata publishes every dataset as XML
    alongside JSON/CSV, so this closes the reference's source-format
    matrix (extract.py pulls JSON; import_csv.py pulls CSV).

    Scale note: XML splits by row-tag scan, so files parallelize like
    JSONL; the parser is row-at-a-time (no vectorized reader) — land
    as parquet on first touch, as with every text source here."""
    df = spark.read.format("xml").option("rowTag", row_tag).load(path)
    return validate_required(df) if validate else df


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink twin (export/interchange; not a storage format)."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )
