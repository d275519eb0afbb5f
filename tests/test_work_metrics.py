"""tools/work_metrics.py: deterministic per-query work counters from
the AppStatusStore (r10 verdict task #2), and the end-to-end proof
that a PLANTED plan regression — removing a broadcast hint so a big
join shuffles its fact side — flags on shuffle bytes through
tools/bench_diff.py even when wall time is noise."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tools import work_metrics as wm
from tools.bench_diff import compare_to_previous

N_FACT = 2_000_000


def _measure(spark, fn):
    cur = wm.cursor(spark)
    assert cur is not None, "status store unreachable"
    df = fn()
    # collect, not count: count() lets Catalyst prune every non-key
    # column (the payload never shuffles), which would hide the
    # regression this suite plants
    df.collect()
    tot, _ = wm.totals_since(spark, cur)
    assert tot is not None
    return wm.compact(tot)


def test_counters_measure_tasks_input_and_shuffle(spark):
    def q():
        return (
            spark.range(N_FACT)
            .select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"))
        )

    w = _measure(spark, q)
    assert w["tasks"] > 0
    assert w["input_rows"] == N_FACT  # range rows count as input records
    assert w["shuffle_write_mb"] > 0  # the groupBy exchange
    # counters are per-window: a second identical run measures the
    # same work, not cumulative totals
    w2 = _measure(spark, q)
    assert w2["input_rows"] == N_FACT
    assert abs(w2["tasks"] - w["tasks"]) <= 2


def test_planted_broadcast_regression_flags_on_shuffle(spark, tmp_path):
    """The r10 verdict's 'Done' criterion: remove a broadcast hint
    (forcing the 2M-row fact side through a sort-merge exchange) and
    the work counters must catch it — flagged via bench_diff on
    shuffle bytes, with the wall numbers held EQUAL so wall-based
    flagging alone could never have seen it."""
    dim = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), "id").alias("name")
    )
    # high-entropy payload: sequential longs compress to ~nothing
    # under the shuffle codec, which would put the fact exchange
    # below the 1 MB work floor and hide the regression
    fact = spark.range(N_FACT).select(
        (F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )

    def broadcast_join():
        return (
            fact.join(F.broadcast(dim), "k")
            .groupBy("name")
            .agg(F.sum("v").alias("s"), F.max("payload").alias("p"))
        )

    def merge_join():  # the planted regression: hint removed/forced SMJ
        return (
            fact.join(dim.hint("merge"), "k")
            .groupBy("name")
            .agg(F.sum("v").alias("s"), F.max("payload").alias("p"))
        )

    w_good = _measure(spark, broadcast_join)
    w_bad = _measure(spark, merge_join)
    good_shuf = w_good["shuffle_read_mb"] + w_good["shuffle_write_mb"]
    bad_shuf = w_bad["shuffle_read_mb"] + w_bad["shuffle_write_mb"]
    assert bad_shuf > good_shuf + 1.0
    assert bad_shuf > 1.5 * max(good_shuf, 0.001)

    # baseline round recorded the broadcast plan; current run shipped
    # the regressed plan at the SAME wall time (machine got faster)
    with open(os.path.join(tmp_path, "BENCH_BASELINE.json"), "w") as f:
        json.dump(
            {
                "round": 10,
                "sf": 0.1,
                "queries": {"planted": 1.0},
                "calib_sec": 0.5,
                "work": {"planted": w_good},
            },
            f,
        )
    diff = compare_to_previous(
        {"planted": 1.0},
        0.5,
        repo_dir=str(tmp_path),
        sf=0.1,
        work={"planted": w_bad},
    )
    assert diff["flagged"]["planted"]["work_only"] is True
    assert diff["flagged"]["planted"]["work"]["shuffle_mb"][1] > \
        diff["flagged"]["planted"]["work"]["shuffle_mb"][0]


def test_codegen_compiles_counts_cache_misses(spark):
    """A plan new to the JVM compiles its generated classes; rerunning
    the same plan hits the codegen cache and compiles none."""

    def q():
        # a literal no other test uses: codegen inlines it, so the
        # generated source (the cache key) is new to this JVM
        return spark.range(64).selectExpr("id * 7340033 + 917 AS v")

    first = _measure(spark, q)
    again = _measure(spark, q)
    assert first["codegen_compiles"] > 0
    assert again["codegen_compiles"] == 0
    assert again["input_rows"] == first["input_rows"] == 64
