"""File readers (S1, S3, S4).

The reference dispatches a Reader by file extension
(internal/filereader/reader_factory.go:56-110); here the caller picks
the reader. Spark's DataSource framework handles .gz transparently for
csv/json text sources and reads schema from Parquet footers, so each
reader is a thin declarative wrapper — Catalyst gets full pushdown.

OTLP protobuf readers (S5/S6) live in ``otel.py`` (mapInPandas decode
behind an import-try, since opentelemetry-proto may be absent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakerunner_spark.schema import normalize_name


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """S1: raw Parquet scan, schema from footers."""
    return spark.read.parquet(*paths)


def read_csv(spark: SparkSession, *paths: str) -> DataFrame:
    """S3: header CSV (+ .csv.gz transparently) with normalized column names."""
    df = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .csv(list(paths))
    )
    from lakerunner_spark.ingest.translate import normalize_columns

    # collision-safe normalization (distinct headers can normalize to
    # the same canonical name — see normalize_columns)
    return normalize_columns(df)


def read_jsonlines(spark: SparkSession, *paths: str) -> DataFrame:
    """S4: NDJSON (+ .json.gz) with nested keys flattened to a_b_c columns.

    Reference flattens nested objects into underscore-joined keys
    (internal/filereader/jsonlines.go).
    """
    df = spark.read.json(list(paths))
    return flatten(df)


def flatten(df: DataFrame) -> DataFrame:
    """Flatten struct columns recursively into top-level columns."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    while True:
        struct_fields = [
            f for f in df.schema.fields if isinstance(f.dataType, T.StructType)
        ]
        if not struct_fields:
            return df
        cols = []
        taken: set[str] = set()

        def _unique(name: str) -> str:
            # flattening can collide with an existing top-level column
            # (struct a.b vs column a_b) — disambiguate like
            # normalize_columns does instead of emitting duplicates
            if name not in taken:
                taken.add(name)
                return name
            k = 2
            while f"{name}_{k}" in taken:
                k += 1
            taken.add(f"{name}_{k}")
            return f"{name}_{k}"

        for f in df.schema.fields:
            if isinstance(f.dataType, T.StructType):
                for sub in f.dataType.fields:
                    cols.append(
                        F.col(f"`{f.name}`.`{sub.name}`").alias(
                            _unique(normalize_name(f"{f.name}_{sub.name}"))
                        )
                    )
            else:
                cols.append(F.col(f"`{f.name}`").alias(_unique(f.name)))
        df = df.select(*cols)
