"""Loaders adapting the driver's synthetic tables to the engine's data model.

The ``events`` table plays the role of a raw telemetry stream:
``event_type`` -> metric_name / log_level, ``user_id`` -> attribute,
``value`` -> sample value, ``props`` -> JSON payload, ``ts`` (ns) ->
``chq_timestamp`` epoch-ms (the engine's canonical time column,
SURVEY §1.2).

Parquet note: the testdata's ``ts`` physical type varies by generator
version — TIMESTAMP(NANOS) (Spark reads it as an epoch-ns long under
``nanosAsLong``) or TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ under
``inferTimestampNTZ``).  ``events_stream`` inspects the loaded dtype
and normalizes either to epoch-ms, so the rest of the engine sees one
integer time model.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, StructType


def _enable_nanos(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # ms-precision date columns -> TIMESTAMP_NTZ consistently, so date
    # predicates compare calendar values (timezone-free on any session)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    # epoch extraction from NTZ goes through an NTZ->LTZ cast, which uses
    # the session zone; pin UTC so it matches DuckDB's epoch_ns()
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# session -> {path: (listing, schema)}; one entry per path, so the memo
# is bounded by the number of tables a session reads. Keyed weakly by
# the session a caller passes, so it ends with that session. Two
# threads missing at once only infer twice: the listing is taken
# before the read, so a stored pair never outlives a change.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _listing(path: str) -> tuple | None:
    """``(relative path, st_size, st_mtime_ns)`` of every regular file
    under ``path`` (or of ``path`` itself), hidden and ``_``-prefixed
    files included: Spark's inference may read ``_common_metadata``,
    and an in-flight write leaves ``_temporary`` files. None for
    non-local URIs, missing paths and paths that list no files."""
    if path.startswith("file:"):
        path = "/" + path[5:].lstrip("/")
    elif "://" in path:
        return None
    try:
        st = os.stat(path)
        if stat.S_ISREG(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                if stat.S_ISREG(st.st_mode):
                    files.append(
                        (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
                    )
    except OSError:  # missing path, or a file removed mid-walk
        return None
    return tuple(sorted(files)) or None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet``, inferring its schema once per
    file listing. Spark's inference runs a job on every bare
    ``read.parquet``; a later call over an unchanged listing reads with
    the remembered schema and runs none. Each call still builds a fresh
    relation (fresh file index, fresh attribute ids), so self-joins
    resolve and a changed table is re-listed and re-inferred. The memo
    assumes the session's Parquet read confs stay as
    :func:`_enable_nanos` pins them."""
    return _read_table(spark, sf_dir, name)[0]


def _read_table(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, StructType | None]:
    """:func:`load_table`'s read, with the schema it used when that is
    known without asking the JVM (None for unlisted paths)."""
    _enable_nanos(spark)
    path = f"{sf_dir}/{name}.parquet"
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path), None
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == listing:
        return spark.read.schema(hit[1]).parquet(path), hit[1]
    df = spark.read.parquet(path)
    schema = df.schema
    memo[path] = (listing, schema)
    return df, schema


def _ts_to_epoch_ms(dtype: DataType) -> Column:
    """Normalize a raw ``ts`` column of type ``dtype`` (epoch-ns long |
    timestamp[_ntz]) to epoch-ms."""
    if isinstance(dtype, LongType):
        # integer `div`: epoch-ns exceeds 2^53, double division would
        # round a few rows into the wrong millisecond
        return F.expr("ts div 1000000").cast("long")
    # TIMESTAMP_NTZ -> TIMESTAMP uses the session zone (pinned UTC above);
    # plain TIMESTAMP casts through unchanged
    return F.unix_millis(F.col("ts").cast("timestamp")).cast("long")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> telemetry shape with chq_timestamp epoch-ms. The ``ts``
    type comes from the schema the read used, so a memoized table costs
    no schema round trip to the JVM."""
    df, schema = _read_table(spark, sf_dir, "events")
    ts_type = (schema or df.schema)["ts"].dataType
    return df.select(
        "event_id",
        _ts_to_epoch_ms(ts_type).alias("chq_timestamp"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


# DuckDB-side equivalent of events_stream (oracle views are the raw tables)
EVENTS_MS_SQL = (
    "SELECT event_id, CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS chq_timestamp, "
    "user_id, event_type, value, props FROM events"
)
