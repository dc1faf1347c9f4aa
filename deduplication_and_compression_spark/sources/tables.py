"""Table IO: the Iceberg-or-parquet reader and document ingest.

Production target is an Iceberg catalog (the BASELINE.json north_rule
input); this sandbox has no Iceberg runtime jar, so ``read_table``
falls back to plain parquet paths transparently, and pointing it at a
real catalog is a config change, not a code change.  Checkpoint and
output tables are written by the pipeline itself (plans/pipeline.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def normalize_parallelism(df: DataFrame) -> DataFrame:
    """Repartition-if-skinny: small/single-split inputs (one parquet
    file, a sub-block text file, a local test frame) otherwise run
    every pre-shuffle stage — signature/SRP/IVF kernels, shingle
    explodes — on a handful of tasks regardless of cores (r5 finding:
    forced ppjoin 32s in-suite vs 11.7s with normalized input).  At
    100 TB inputs arrive in thousands of splits and this is a no-op.
    ONE implementation shared by run_pipeline, the driver contract
    tables, and docs-mode ingest (r5 code-review: three copies drift).

    The .rdd handle is a build-time plan→RDD conversion, no job; the
    DataFrame-only alternatives lose — inputFiles() misjudges
    cached/in-memory inputs and file counts ignore split-by-size, and
    an unconditional repartition adds a full shuffle exactly when the
    caller already normalized partitioning."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    """ref is either ``catalog.db.table`` (Iceberg, when configured) or
    a parquet path/directory."""
    if os.path.exists(ref) or ref.endswith(".parquet"):
        return spark.read.parquet(ref)
    return spark.read.table(ref)


DOCUMENT_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")


def read_documents(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    id_col: str = "doc_id",
    text_col: str = "text",
    **options,
) -> DataFrame:
    """Ingest a document corpus from any supported source format,
    normalized to the engine's document schema (doc_id BIGINT, text
    STRING, lang, source, n_chars) so every document operator
    (dedup tiers, textops, the screen) runs unchanged on top.

    Formats:
      ``parquet`` / ``orc`` / ``json`` (JSON-lines) / ``csv`` —
        columns mapped by name (``id_col``/``text_col`` rename into
        the contract; csv defaults to header=true, multiLine off —
        override via **options which pass through to the
        DataFrameReader);
      ``text`` — one document per line; doc_id is synthesized with
        monotonically_increasing_id(), which is unique and stable for
        a FIXED input partitioning but not stable across different
        partitionings — supply real ids upstream when identity
        matters across runs.

    Scale notes: json/csv/text all split by file (and by block for
    uncompressed files), so a many-file corpus parallelizes like
    parquet; missing lang/source columns are filled with nulls rather
    than failing, and n_chars is recomputed when absent so quality
    heuristics keep working on foreign corpora.
    """
    from pyspark.sql import functions as F

    if fmt == "parquet":
        df = spark.read.options(**options).parquet(path)
    elif fmt == "orc":
        df = spark.read.options(**options).orc(path)
    elif fmt == "json":
        df = spark.read.options(**options).json(path)
    elif fmt == "csv":
        opts = {"header": "true", **options}
        df = spark.read.options(**opts).csv(path)
    elif fmt == "text":
        df = (
            spark.read.options(**options).text(path)
            .select(
                F.monotonically_increasing_id().alias("doc_id"),
                F.col("value").alias("text"),
            )
        )
        id_col, text_col = "doc_id", "text"
    else:
        raise ValueError(f"unsupported document format {fmt!r}")

    # id typing BEFORE the contract cast (r5 code-review finding):
    # integral sources pass untouched; string sources (csv reads
    # everything as string) go through the cast, which under Spark's
    # ANSI default RAISES CAST_INVALID_INPUT on any malformed id
    # rather than silently nulling it; fractional/complex types are
    # rejected at build time — a lossy double→long id mapping is never
    # what the caller meant.
    from pyspark.sql import types as T

    # presence BEFORE typing (ADVICE r5): a missing id_col otherwise
    # surfaces as a raw KeyError from df.schema[...], and a missing
    # text_col slips past the rename to die later as an unresolved
    # 'text' reference — both far worse errors than naming the column
    for role, col in (("id", id_col), ("text", text_col)):
        if col not in df.columns:
            raise ValueError(
                f"{role} column {col!r} not found in {fmt} source;"
                f" available columns: {df.columns}"
            )
    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType, T.StringType)):
        raise ValueError(
            f"id column {id_col!r} has type {id_type.simpleString()};"
            " map ids to int64 upstream (e.g. F.xxhash64) — the document"
            " contract keys doc_id as BIGINT"
        )
    # project the WANTED source columns first: renaming id_col/text_col
    # into a frame that already has doc_id/text columns would create
    # duplicates and an AMBIGUOUS_REFERENCE failure downstream
    keep = list(dict.fromkeys(
        c for c in (id_col, text_col, "lang", "source", "n_chars")
        if c in df.columns
    ))
    df = (
        df.select(*keep)
        .withColumnRenamed(id_col, "doc_id")
        .withColumnRenamed(text_col, "text")
    )
    cols = [
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text").cast("string").alias("text"),
    ]
    for c in ("lang", "source"):
        cols.append(
            (F.col(c).cast("string") if c in df.columns
             else F.lit(None).cast("string")).alias(c)
        )
    cols.append(
        (F.col("n_chars").cast("long") if "n_chars" in df.columns
         else F.length("text").cast("long")).alias("n_chars")
    )
    return df.select(*cols)
