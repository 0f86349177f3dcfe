"""Schema-checked ingestion.

Parity targets (behavior only): openoa/plant.py:271-331 (load_to_pandas
+ rename), plant.py:217-267 (column/dtype validation). The Spark
formulation validates lazily and cheaply: column presence is a metadata
check, dtype coercion is ``cast`` in the projection (pushed to the
scan), and failure counting is one aggregate of ``try_cast`` nulls —
never row-by-row mutation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    col_map: dict[str, str] | None = None,
    **options,
) -> DataFrame:
    """Read a table; optionally rename user columns → canonical names
    (col_map, reference plant.py:314-331) and cast to a declared
    schema. Both are projections Catalyst folds into the scan."""
    reader = spark.read.options(**options)
    if fmt == "csv":
        reader = reader.option("header", "true")
        df = reader.schema(schema).csv(path) if schema else reader.option("inferSchema", "true").csv(path)
    else:
        df = reader.format(fmt).load(path)
    if col_map:
        df = df.select(
            *[F.col(u).alias(c) for u, c in col_map.items()],
            *[F.col(c) for c in df.columns if c not in col_map],
        )
    if schema and fmt != "csv":
        df = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    return df


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's TPC-H-ish test tables and register temp views."""
    out = {}
    for name in TESTDATA_TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    id_col: str | None = None,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL document corpus (the de-facto LLM training-data
    interchange format) with corrupt-record QUARANTINE instead of the
    default silent null-row: returns ``(good, bad)`` where ``bad``
    carries the raw unparseable line for triage and ``good`` is clean.

    Parsing is a text scan + ``from_json`` projection, NOT the json
    reader's internal corrupt-record column: Spark refuses any query
    over that internal column whose pruned column set is the corrupt
    column alone (e.g. ``bad.count()``), while a corrupt field
    declared inside the ``from_json`` schema is an ordinary column
    with no such restriction. One text scan; the good/bad split is
    two pushed-down filters. With ``id_col=None`` a deterministic
    64-bit content id is synthesized by hashing the text (stable
    across runs/partitionings, unlike monotonically_increasing_id).
    """
    corrupt = "_corrupt_record"
    if schema is None:
        # one schema-inference pass, exactly what spark.read.json does
        schema = spark.read.json(path).schema
    schema = T.StructType(
        [*(f for f in schema.fields if f.name != corrupt),
         T.StructField(corrupt, T.StringType())]
    )
    parsed = (
        spark.read.text(path)
        .where(F.length(F.trim("value")) > 0)
        .select(
            F.col("value").alias("raw_line"),
            F.from_json(
                "value", schema,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
            ).alias("_p"),
        )
    )
    bad = parsed.where(
        F.col(f"_p.{corrupt}").isNotNull() | F.col("_p").isNull()
    ).select("raw_line")
    good = (
        parsed.where(F.col(f"_p.{corrupt}").isNull() & F.col("_p").isNotNull())
        .select("_p.*")
        .drop(corrupt)
    )
    if id_col is None and "doc_id" not in good.columns:
        good = good.withColumn("doc_id", F.xxhash64(F.col(text_col)))
    return good, bad


def read_evolving_parquet(
    spark: SparkSession,
    path: str,
    expected: T.StructType | None = None,
) -> DataFrame:
    """Read an append-only parquet dataset whose schema has GROWN over
    time (new columns in newer files): ``mergeSchema`` unions the file
    schemas and older files surface NULL for columns they predate —
    the standard contract for long-lived telemetry/corpus datasets.

    ``expected`` (optional) declares the current canonical schema: the
    read is then projected/cast onto it, so columns the dataset has
    not grown yet still appear (all-NULL) and readers never break on
    deployment order. mergeSchema costs one footer read per file —
    fine at 100 TB where files are ~256 MB, ruinous with millions of
    tiny files (run compact_parquet first).
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if expected is not None:
        df = df.select(
            *[
                (F.col(f.name) if f.name in df.columns
                 else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in expected.fields
            ]
        )
    return df
