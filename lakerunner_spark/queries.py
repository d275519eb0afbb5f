"""Query catalog: every implemented operator as a (Spark, oracle-SQL) pair.

Keys carry the SURVEY §2 operator id. Each Spark implementation is built
from the engine's operator library; each oracle is ANSI SQL DuckDB runs
over the same parquet tables (views: region nation customer supplier
part orders lineitem events documents embeddings).

Parity rules (driver hashes values after sorting columns by name):
- every computed column is aliased identically on both sides;
- double aggregates are rounded (4-6 dp) on both sides so IEEE
  summation-order differences between engines can't flip the hash;
- integer sums in DuckDB are CAST(... AS BIGINT) (DuckDB widens to
  HUGEINT, Spark keeps LongType);
- ranking always has a deterministic tiebreak and ranks on the rounded
  value.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakerunner_spark.functions.timeops import bucket_ts
from lakerunner_spark.functions.unwrap import (
    bytes_to_bytes,
    bytes_to_bytes_sql,
    duration_to_seconds_sql,
)
from lakerunner_spark.logql import stages
from lakerunner_spark.operators.binary import (
    vector_and,
    vector_match,
    vector_or,
    vector_scalar,
    vector_unless,
)
from lakerunner_spark.operators.range_agg import range_agg
from lakerunner_spark.operators.step_agg import count_only_agg, step_agg_raw
from lakerunner_spark.operators.vector_agg import topk, vector_agg
from lakerunner_spark.ingest.preagg import preaggregate_metrics
from lakerunner_spark.ingest.rollup import rollup_tier
from lakerunner_spark.testdata import EVENTS_MS_SQL, events_stream, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


from lakerunner_spark.functions.rounding import compile_pround, portable_round as _pr


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = compile_pround(sql)
        return fn

    return deco


_E = f"({EVENTS_MS_SQL})"


# ---------------------------------------------------------------------------
# §2.1 scans + §2.2 projections/filters
# ---------------------------------------------------------------------------

@register(
    "s1_scan_project_filter",
    f"""
    SELECT event_id, chq_timestamp, user_id, value
    FROM {_E} e
    WHERE event_type = 'error' AND value > 50.0
    """,
)
def s1_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P3/P4/P13: parquet scan, matcher filter, column pruning."""
    e = events_stream(spark, sf_dir)
    e = stages.label_matcher(e, "event_type", "=", "error")
    e = e.filter(F.col("value") > 50.0)
    return stages.keep_fields(e, ["event_id", "chq_timestamp", "user_id", "value"])


@register(
    "p3_time_range",
    f"""
    SELECT event_type, count(*) AS n
    FROM {_E} e
    WHERE chq_timestamp >= 1704067200000 AND chq_timestamp < 1704153600000
    GROUP BY event_type
    """,
)
def p3_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: epoch-ms time-range predicate (partition/row-group prunable)."""
    e = events_stream(spark, sf_dir)
    e = stages.time_range(e, 1704067200000, 1704153600000)
    return e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "p6_line_filter",
    """
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE contains(text, 'spark') AND NOT contains(text, 'slow')
    GROUP BY lang
    """,
)
def p6_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: |= and != line filters on the message body."""
    d = load_table(spark, sf_dir, "documents")
    d = stages.line_filter(d, "|=", "spark", line_col="text")
    d = stages.line_filter(d, "!=", "slow", line_col="text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "p7_json_parser",
    f"""
    SELECT event_type, count(*) AS n, pround(avg(k_num), 6) AS avg_k
    FROM (
      SELECT event_type,
             try_cast(json_extract_string(props, '$.k') AS DOUBLE) AS k_num
      FROM {_E} e
    )
    WHERE k_num >= 50.0
    GROUP BY event_type
    """,
)
def p7_json_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P7: JSON key extraction + numeric label filter."""
    e = events_stream(spark, sf_dir)
    e = stages.json_parser(e, {"k": "$.k"}, line_col="props")
    e = e.withColumn("k_num", F.col("k").try_cast("double"))
    e = e.filter(F.col("k_num") >= 50.0)
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), _pr(F.avg("k_num"), 6).alias("avg_k")
    )


@register(
    "p8_logfmt_roundtrip",
    f"""
    SELECT parsed_user, count(*) AS n
    FROM (
      SELECT regexp_extract(line, '(?:^|\\s)user=(?:"([^"]*)"|([^\\s"]*))', 2)
             AS parsed_user
      FROM (
        SELECT 'k=' || json_extract_string(props, '$.k') || ' user=' ||
               CAST(user_id AS VARCHAR) AS line
        FROM {_E} e
      )
    )
    GROUP BY parsed_user
    """,
)
def p8_logfmt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P11: line_format synthesizes a logfmt body, logfmt parser reads it back."""
    e = events_stream(spark, sf_dir)
    e = e.withColumn(
        "log_message",
        F.concat(
            F.lit("k="),
            F.get_json_object("props", "$.k"),
            F.lit(" user="),
            F.col("user_id").cast("string"),
        ),
    )
    e = stages.logfmt_parser(e, ["user"])
    return (
        e.withColumnRenamed("user", "parsed_user")
        .groupBy("parsed_user")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "p9_regexp_parser",
    """
    SELECT first_word, count(*) AS n
    FROM (SELECT regexp_extract(text, '^([a-z]+)', 1) AS first_word FROM documents)
    GROUP BY first_word
    """,
)
def p9_regexp_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: regexp parser — capture group -> column."""
    d = load_table(spark, sf_dir, "documents")
    d = stages.regexp_parser(d, r"^([a-z]+)", {"first_word": 1}, line_col="text")
    return d.groupBy("first_word").agg(F.count(F.lit(1)).alias("n"))


@register(
    "p10_label_format",
    """
    SELECT upper(lang) || ':' || source AS lang_src, count(*) AS n,
           CAST(sum(CASE WHEN starts_with(text, 'the') THEN 1 ELSE 0 END) AS BIGINT)
           AS n_the
    FROM documents
    GROUP BY lang_src
    """,
)
def p10_label_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/F1/F2: label_format template functions (upper, concat, hasPrefix)."""
    d = load_table(spark, sf_dir, "documents")
    d = stages.label_format(
        d, "lang_src", F.concat(F.upper("lang"), F.lit(":"), F.col("source"))
    )
    return d.groupBy("lang_src").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("text").startswith("the"), 1).otherwise(0)).alias("n_the"),
    )


@register(
    "p12_unwrap_duration",
    f"""
    SELECT event_type,
           pround(sum({duration_to_seconds_sql("dur_str")}), 6) AS total_seconds
    FROM (
      SELECT event_type, json_extract_string(props, '$.k') || 'ms' AS dur_str
      FROM {_E} e
    )
    GROUP BY event_type
    """,
)
def p12_unwrap_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/F6: unwrap with duration() conversion."""
    e = events_stream(spark, sf_dir)
    e = e.withColumn(
        "dur_str", F.concat(F.get_json_object("props", "$.k"), F.lit("ms"))
    )
    e = stages.unwrap(e, "dur_str", conv="duration", out_col="dur_s")
    return e.groupBy("event_type").agg(
        _pr(F.sum("dur_s"), 6).alias("total_seconds")
    )


@register(
    "f7_unwrap_bytes",
    f"""
    SELECT event_type,
           pround(sum({bytes_to_bytes_sql("sz_str")}), 4) AS total_bytes
    FROM (
      SELECT event_type, json_extract_string(props, '$.k') || 'KiB' AS sz_str
      FROM {_E} e
    )
    GROUP BY event_type
    """,
)
def f7_unwrap_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/F7: unwrap with bytes() conversion."""
    e = events_stream(spark, sf_dir)
    e = e.withColumn(
        "sz_str", F.concat(F.get_json_object("props", "$.k"), F.lit("KiB"))
    )
    e = e.withColumn("sz_b", bytes_to_bytes(F.col("sz_str")))
    return e.groupBy("event_type").agg(_pr(F.sum("sz_b"), 4).alias("total_bytes"))


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

_STEP_BASE_SQL = f"""
      SELECT chq_timestamp - chq_timestamp % 60000 AS bucket_ts, event_type,
             sum(value) AS s, count(value) AS c,
             min(value) AS mn, max(value) AS mx
      FROM {_E} e
      GROUP BY 1, 2
"""


@register(
    "a3_step_agg",
    f"""
    SELECT bucket_ts, event_type, pround(s, 4) AS sum_value,
           c AS count_value, pround(mn, 4) AS min_value,
           pround(mx, 4) AS max_value
    FROM ({_STEP_BASE_SQL})
    """,
)
def a3_step_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: worker step aggregation — per (bucket_ts, labels) partials."""
    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 60_000, ["event_type"])
    return s.select(
        "bucket_ts",
        "event_type",
        _pr("sum", 4).alias("sum_value"),
        F.col("count").alias("count_value"),
        _pr("min", 4).alias("min_value"),
        _pr("max", 4).alias("max_value"),
    )


@register(
    "a4_count_only",
    f"""
    SELECT chq_timestamp - chq_timestamp % 3600000 AS bucket_ts, event_type,
           count(*) AS count
    FROM {_E} e
    GROUP BY 1, 2
    """,
)
def a4_count_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: count-only densified aggregation."""
    e = events_stream(spark, sf_dir)
    return count_only_agg(e, 3_600_000, ["event_type"])


@register(
    "a7_vector_agg",
    f"""
    SELECT chq_timestamp - chq_timestamp % 3600000 AS bucket_ts, event_type,
           pround(sum(value), 4) AS value
    FROM {_E} e
    GROUP BY 1, 2
    """,
)
def a7_vector_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: sum by (event_type) over per-(event_type,user) series at each bucket.

    Two-stage aggregation (series partials -> vector agg) must compose to
    the direct group-by — the oracle states the direct form.
    """
    e = events_stream(spark, sf_dir)
    s = (
        step_agg_raw(e, 3_600_000, ["event_type", "user_id"])
        .select("bucket_ts", "event_type", "user_id", F.col("sum").alias("value"))
    )
    v = vector_agg(s, "sum", by=["event_type"])
    return v.withColumn("value", _pr("value", 4))


@register(
    "a8_topk",
    f"""
    WITH base AS (
      SELECT chq_timestamp - chq_timestamp % 600000 AS bucket_ts, event_type,
             pround(sum(value), 4) AS value
      FROM {_E} e
      GROUP BY 1, 2
    )
    SELECT bucket_ts, event_type, value FROM (
      SELECT *, row_number() OVER (
        PARTITION BY bucket_ts ORDER BY value DESC, event_type ASC) AS rn
      FROM base
    ) WHERE rn <= 2
    """,
)
def a8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/W2: per-bucket top-k series by value (deterministic tiebreak)."""
    e = events_stream(spark, sf_dir)
    s = (
        step_agg_raw(e, 600_000, ["event_type"])
        .select("bucket_ts", "event_type", _pr("sum", 4).alias("value"))
    )
    return topk(s, 2, tiebreak=["event_type"])


@register(
    "a9_rate",
    f"""
    WITH base AS ({_STEP_BASE_SQL})
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - min(bucket_ts) OVER (PARTITION BY event_type)
                     >= 240000
                THEN pround(sum(s) OVER w / 300.0, 6) END AS value
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                 RANGE BETWEEN 240000 PRECEDING AND CURRENT ROW)
    """,
)
def a9_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W1: rate() — sliding 5m range window over 60s buckets, coverage-gated."""
    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 60_000, ["event_type"])
    r = range_agg(s, "rate", 300_000, 60_000, ["event_type"])
    return r.withColumn("value", _pr("value", 6))


@register(
    "a9_avg_over_time",
    f"""
    WITH base AS ({_STEP_BASE_SQL})
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - min(bucket_ts) OVER (PARTITION BY event_type)
                     >= 240000
                THEN pround(sum(s) OVER w / sum(c) OVER w, 6) END AS value
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                 RANGE BETWEEN 240000 PRECEDING AND CURRENT ROW)
    """,
)
def a9_avg_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: avg_over_time over a 5m range window."""
    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 60_000, ["event_type"])
    r = range_agg(s, "avg_over_time", 300_000, 60_000, ["event_type"])
    return r.withColumn("value", _pr("value", 6))


@register(
    "a9_max_over_time",
    f"""
    WITH base AS ({_STEP_BASE_SQL})
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - min(bucket_ts)
                       OVER (PARTITION BY event_type) >= 240000
                THEN pround(max(mx) OVER w, 4) END AS value
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                 RANGE BETWEEN 240000 PRECEDING AND CURRENT ROW)
    """,
)
def a9_max_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: max_over_time — windowed max, coverage-gated (leaf_node.go:394)."""
    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 60_000, ["event_type"])
    r = range_agg(s, "max_over_time", 300_000, 60_000, ["event_type"])
    return r.withColumn("value", _pr("value", 4))


@register(
    "w4_irate",
    f"""
    WITH base AS ({_STEP_BASE_SQL})
    SELECT bucket_ts, event_type,
           pround(s / ((bucket_ts - lag(bucket_ts) OVER w) / 1000.0), 6) AS value
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
    QUALIFY lag(bucket_ts) OVER w IS NOT NULL
        AND bucket_ts - lag(bucket_ts) OVER w <= 240000
    """,
)
def w4_irate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: irate — instant rate from the two most recent buckets, both
    within the range window (buckets reach back range-step = 240s)."""
    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 60_000, ["event_type"])
    r = range_agg(s, "irate", 300_000, 60_000, ["event_type"])
    return r.filter(F.col("value").isNotNull()).withColumn(
        "value", _pr("value", 6)
    )


@register(
    "a14_summary",
    f"""
    SELECT event_type, pround(min(value), 4) AS min_v, pround(max(value), 4) AS max_v,
           pround(avg(value), 6) AS avg_v, pround(sum(value), 4) AS sum_v,
           count(*) AS count_v, pround(quantile_cont(value, 0.5), 6) AS p50,
           pround(quantile_cont(value, 0.95), 6) AS p95
    FROM {_E} e
    GROUP BY event_type
    """,
)
def a14_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/F13/A5: whole-range summary stats + exact interpolated quantiles."""
    e = events_stream(spark, sf_dir)
    return e.groupBy("event_type").agg(
        _pr(F.min("value"), 4).alias("min_v"),
        _pr(F.max("value"), 4).alias("max_v"),
        _pr(F.avg("value"), 6).alias("avg_v"),
        _pr(F.sum("value"), 4).alias("sum_v"),
        F.count(F.lit(1)).alias("count_v"),
        _pr(F.percentile("value", 0.5), 6).alias("p50"),
        _pr(F.percentile("value", 0.95), 6).alias("p95"),
    )


@register("a15_distinct_values", "SELECT DISTINCT event_type FROM events")
def a15_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: DISTINCT tag values."""
    return load_table(spark, sf_dir, "events").select("event_type").distinct()


@register(
    "a15_tag_values_parsed",
    f"""
    SELECT DISTINCT json_extract_string(props, '$.k') AS k
    FROM {_E} e WHERE event_type = 'error'
    """,
)
def a15_tag_values_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: tag values of a PARSER-CREATED label — the full pipeline runs
    before DISTINCT (ToWorkerSQLForTagValues, logql/sql_builder.go:33-116)."""
    e = events_stream(spark, sf_dir)
    e = stages.label_matcher(e, "event_type", "=", "error")
    e = stages.json_parser(e, {"k": "$.k"}, line_col="props")
    return e.select("k").distinct()


@register(
    "a16_metadata",
    f"""
    SELECT event_type, min(user_id) AS first_user, count(*) AS n
    FROM {_E} e GROUP BY event_type
    """,
)
def a16_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: metric metadata aggregation (deterministic first via min)."""
    e = events_stream(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.min("user_id").alias("first_user"), F.count(F.lit(1)).alias("n")
    )


@register(
    "a1_preagg_10s",
    f"""
    SELECT chq_timestamp - chq_timestamp % 10000 AS chq_timestamp, event_type,
           pround(sum(value), 4) AS rollup_sum, count(value) AS rollup_count,
           pround(avg(value), 6) AS rollup_avg, pround(min(value), 4) AS rollup_min,
           pround(max(value), 4) AS rollup_max
    FROM {_E} e
    GROUP BY 1, 2
    """,
)
def a1_preagg_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: ingest 10s pre-aggregation (sketchless columns; p* via KLL not oracled)."""
    e = events_stream(spark, sf_dir)
    p = preaggregate_metrics(e, ["event_type"], value_col="value")
    return p.select(
        "chq_timestamp",
        "event_type",
        _pr("chq_rollup_sum", 4).alias("rollup_sum"),
        F.col("chq_rollup_count").alias("rollup_count"),
        _pr("chq_rollup_avg", 6).alias("rollup_avg"),
        _pr("chq_rollup_min", 4).alias("rollup_min"),
        _pr("chq_rollup_max", 4).alias("rollup_max"),
    )


def _cook1_oracle() -> str:
    from lakerunner_spark.functions.hashing import compute_tid_sql

    tid = compute_tid_sql("event_type", "user_id")
    return f"""
    SELECT chq_tid, CAST(count(*) AS BIGINT) AS n,
           pround(sum(value), 4) AS sum_value
    FROM (SELECT {tid} AS chq_tid, value
          FROM (SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, value
                FROM {_E} e))
    GROUP BY chq_tid
    """


@register("cook1_metrics_tid", _cook1_oracle())
def cook1_metrics_tid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 cook path: TID = fnv64a over sorted k=v pairs, computed as a
    pure JVM-side SQL expression (no Python in the ingest hot path;
    tid.go:69-117), then the per-series aggregate. The oracle reproduces
    fnv64a bit-for-bit in DuckDB via list_reduce — TID values hash-match
    across engines."""
    from lakerunner_spark.ingest.translate import translate_metrics

    e = events_stream(spark, sf_dir).withColumn(
        "user_id", F.col("user_id").cast("string")
    )
    # the bench table is one small file = one input split; real ingest
    # hashes across many segment files, so spread the cook accordingly
    e = e.repartition(spark.sparkContext.defaultParallelism)
    cooked = translate_metrics(
        e.withColumnRenamed("event_type", "metric_name"),
        attr_cols=["user_id"],
    )
    return cooked.groupBy("chq_tid").agg(
        F.count(F.lit(1)).alias("n"),
        _pr(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "a2_rollup_chain",
    f"""
    SELECT chq_timestamp - chq_timestamp % 300000 AS chq_timestamp, event_type,
           pround(sum(value), 4) AS rollup_sum, count(value) AS rollup_count,
           pround(min(value), 4) AS rollup_min, pround(max(value), 4) AS rollup_max,
           pround(avg(value), 6) AS rollup_avg
    FROM {_E} e
    GROUP BY 1, 2
    """,
)
def a2_rollup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: rollup cascade 10s->60s->300s composes to the direct 300s aggregate."""
    e = events_stream(spark, sf_dir)
    t10 = preaggregate_metrics(e, ["event_type"], value_col="value")
    t60 = rollup_tier(t10, ["event_type"], 60_000)
    t300 = rollup_tier(t60, ["event_type"], 300_000)
    return t300.select(
        "chq_timestamp",
        "event_type",
        _pr("chq_rollup_sum", 4).alias("rollup_sum"),
        F.col("chq_rollup_count").alias("rollup_count"),
        _pr("chq_rollup_min", 4).alias("rollup_min"),
        _pr("chq_rollup_max", 4).alias("rollup_max"),
        _pr("chq_rollup_avg", 6).alias("rollup_avg"),
    )


@register(
    "a11_simple_log_agg",
    f"""
    SELECT chq_timestamp - chq_timestamp % 60000 AS bucket_ts, count(*) AS count
    FROM {_E} e WHERE event_type = 'error'
    GROUP BY 1
    """,
)
def a11_simple_log_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: matcher-only log pipeline -> direct bucket count pushdown."""
    e = events_stream(spark, sf_dir)
    e = stages.label_matcher(e, "event_type", "=", "error")
    return count_only_agg(e, 60_000, [])


@register(
    "a12_complex_log_agg",
    f"""
    SELECT chq_timestamp - chq_timestamp % 600000 AS bucket_ts, event_type,
           pround(sum(k_num), 6) AS total_k
    FROM (
      SELECT chq_timestamp, event_type,
             try_cast(json_extract_string(props, '$.k') AS DOUBLE) AS k_num
      FROM {_E} e
    )
    WHERE k_num < 50.0
    GROUP BY 1, 2
    """,
)
def a12_complex_log_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: parser pipeline (P7) + numeric filter (P5) + unwrap agg."""
    e = events_stream(spark, sf_dir)
    e = stages.json_parser(e, {"k": "$.k"}, line_col="props")
    e = e.withColumn("k_num", F.col("k").try_cast("double"))
    e = e.filter(F.col("k_num") < 50.0)
    return (
        e.groupBy(
            bucket_ts("chq_timestamp", 600_000).alias("bucket_ts"), "event_type"
        )
        .agg(_pr(F.sum("k_num"), 6).alias("total_k"))
    )


# ---------------------------------------------------------------------------
# §2.3 joins / §2.7 set ops (PromQL vector matching)
# ---------------------------------------------------------------------------

_SERIES_USER_SQL = f"""
      SELECT chq_timestamp - chq_timestamp % 3600000 AS bucket_ts, user_id,
             pround(sum(value), 4) AS value
      FROM {_E} e WHERE event_type = '{{etype}}'
      GROUP BY 1, 2
"""


def _series_by_user(spark: SparkSession, sf_dir: str, etype: str) -> DataFrame:
    e = events_stream(spark, sf_dir).filter(F.col("event_type") == etype)
    return (
        step_agg_raw(e, 3_600_000, ["user_id"])
        .select("bucket_ts", "user_id", _pr("sum", 4).alias("value"))
    )


@register(
    "j1_vector_arith",
    f"""
    WITH l AS ({_SERIES_USER_SQL.format(etype="error")}),
         r AS ({_SERIES_USER_SQL.format(etype="click")})
    SELECT l.bucket_ts, l.user_id, pround(l.value / r.value, 6) AS value
    FROM l JOIN r ON l.bucket_ts = r.bucket_ts AND l.user_id = r.user_id
    WHERE r.value != 0
    """,
)
def j1_vector_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/F11: vector / vector — per-bucket inner join on the label match key."""
    lhs = _series_by_user(spark, sf_dir, "error")
    rhs = _series_by_user(spark, sf_dir, "click")
    out = vector_match(lhs, rhs, "/", ["user_id"])
    return out.withColumn("value", _pr("value", 6))


@register(
    "j2_vector_or",
    f"""
    WITH l AS ({_SERIES_USER_SQL.format(etype="error")}),
         r AS ({_SERIES_USER_SQL.format(etype="click")})
    SELECT coalesce(l.bucket_ts, r.bucket_ts) AS bucket_ts,
           coalesce(l.user_id, r.user_id) AS user_id,
           coalesce(l.value, r.value) AS value
    FROM l FULL OUTER JOIN r
      ON l.bucket_ts = r.bucket_ts AND l.user_id = r.user_id
    """,
)
def j2_vector_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: or — union preferring LHS on key collision (full-outer + coalesce)."""
    lhs = _series_by_user(spark, sf_dir, "error")
    rhs = _series_by_user(spark, sf_dir, "click")
    return vector_or(lhs, rhs, ["user_id"])


@register(
    "j3_vector_and",
    f"""
    WITH l AS ({_SERIES_USER_SQL.format(etype="error")}),
         r AS ({_SERIES_USER_SQL.format(etype="click")})
    SELECT l.* FROM l SEMI JOIN r
      ON l.bucket_ts = r.bucket_ts AND l.user_id = r.user_id
    """,
)
def j3_vector_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: and — left semi join on (bucket, match key)."""
    lhs = _series_by_user(spark, sf_dir, "error")
    rhs = _series_by_user(spark, sf_dir, "click")
    return vector_and(lhs, rhs, ["user_id"])


@register(
    "j4_vector_unless",
    f"""
    WITH l AS ({_SERIES_USER_SQL.format(etype="error")}),
         r AS ({_SERIES_USER_SQL.format(etype="click")})
    SELECT l.* FROM l ANTI JOIN r
      ON l.bucket_ts = r.bucket_ts AND l.user_id = r.user_id
    """,
)
def j4_vector_unless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: unless — left anti join on (bucket, match key)."""
    lhs = _series_by_user(spark, sf_dir, "error")
    rhs = _series_by_user(spark, sf_dir, "click")
    return vector_unless(lhs, rhs, ["user_id"])


@register(
    "j5_vector_scalar",
    f"""
    WITH base AS ({_SERIES_USER_SQL.format(etype="purchase")})
    SELECT bucket_ts, user_id,
           CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS value
    FROM base
    """,
)
def j5_vector_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: vector > scalar with the bool modifier -> 1.0/0.0."""
    s = _series_by_user(spark, sf_dir, "purchase")
    return vector_scalar(s, ">", 100.0, bool_mode=True)


# ---------------------------------------------------------------------------
# §2.6 sorts / limits; §2.8 scalar functions
# ---------------------------------------------------------------------------

@register(
    "o1_order_limit",
    f"""
    SELECT event_id, chq_timestamp, event_type
    FROM {_E} e
    ORDER BY chq_timestamp DESC, event_id DESC LIMIT 100
    """,
)
def o1_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: exemplar query — global ORDER BY ts DESC LIMIT n
    (Spark plans TakeOrderedAndProject: per-partition top-n + merge,
    no full sort at scale)."""
    e = events_stream(spark, sf_dir)
    return (
        e.orderBy(F.col("chq_timestamp").desc(), F.col("event_id").desc())
        .limit(100)
        .select("event_id", "chq_timestamp", "event_type")
    )


@register(
    "f9_math_unary",
    f"""
    SELECT event_type,
           pround(sum(abs(value)), 4) AS sum_abs,
           pround(sum(sqrt(abs(value))), 6) AS sum_sqrt,
           pround(sum(ln(abs(value) + 1.0)), 6) AS sum_ln,
           pround(sum(floor(value)), 1) AS sum_floor,
           pround(sum(ceil(value)), 1) AS sum_ceil,
           pround(sum(CAST(sign(value) AS DOUBLE)), 1) AS sum_sgn
    FROM {_E} e GROUP BY event_type
    """,
)
def f9_math_unary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: unary math functions (abs/sqrt/ln/floor/ceil/sgn)."""
    e = events_stream(spark, sf_dir)
    return e.groupBy("event_type").agg(
        _pr(F.sum(F.abs("value")), 4).alias("sum_abs"),
        _pr(F.sum(F.sqrt(F.abs("value"))), 6).alias("sum_sqrt"),
        _pr(F.sum(F.log(F.abs("value") + 1.0)), 6).alias("sum_ln"),
        _pr(F.sum(F.floor("value")), 1).alias("sum_floor"),
        _pr(F.sum(F.ceil("value")), 1).alias("sum_ceil"),
        _pr(F.sum(F.signum("value")), 1).alias("sum_sgn"),
    )


@register(
    "f10_clamp",
    f"""
    SELECT event_type,
           pround(sum(greatest(value, 50.0)), 4) AS sum_clamp_min,
           pround(sum(least(value, 150.0)), 4) AS sum_clamp_max
    FROM {_E} e GROUP BY event_type
    """,
)
def f10_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: clamp_min/clamp_max via greatest/least."""
    e = events_stream(spark, sf_dir)
    return e.groupBy("event_type").agg(
        _pr(F.sum(F.greatest("value", F.lit(50.0))), 4).alias("sum_clamp_min"),
        _pr(F.sum(F.least("value", F.lit(150.0))), 4).alias("sum_clamp_max"),
    )


@register(
    "f17_ts_normalize",
    f"""
    SELECT event_id,
           CAST(CASE WHEN ts_s < 1e11 THEN ts_s * 1000
                     WHEN ts_s < 1e14 THEN ts_s END AS BIGINT) AS ms_from_s,
           CAST(CASE WHEN ts_us < 1e11 THEN ts_us * 1000
                     WHEN ts_us < 1e14 THEN ts_us
                     WHEN ts_us < 1e17 THEN ts_us / 1000 END AS BIGINT) AS ms_from_us
    FROM (
      SELECT event_id, CAST(chq_timestamp // 1000 AS DOUBLE) AS ts_s,
             CAST(chq_timestamp * 1000 AS DOUBLE) AS ts_us
      FROM {_E} e
    )
    """,
)
def f17_ts_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: timestamp unit normalization heuristic (s/us -> ms)."""
    from lakerunner_spark.schema import normalize_timestamp_ms

    e = events_stream(spark, sf_dir)
    e = e.select(
        "event_id",
        F.floor(F.col("chq_timestamp") / 1000).cast("double").alias("ts_s"),
        (F.col("chq_timestamp") * 1000).cast("double").alias("ts_us"),
    )
    return e.select(
        "event_id",
        normalize_timestamp_ms(F.col("ts_s")).alias("ms_from_s"),
        normalize_timestamp_ms(F.col("ts_us")).alias("ms_from_us"),
    )


@register(
    "f18_dateint",
    f"""
    SELECT CAST(strftime(to_timestamp(chq_timestamp // 1000), '%Y%m%d') AS INTEGER)
           AS dateint, count(*) AS n
    FROM {_E} e GROUP BY 1
    """,
)
def f18_dateint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18: UTC dateint derivation from epoch ms."""
    from lakerunner_spark.schema import dateint

    e = events_stream(spark, sf_dir)
    return (
        e.select(dateint(F.col("chq_timestamp")).alias("dateint"))
        .groupBy("dateint")
        .agg(F.count(F.lit(1)).alias("n"))
    )
