"""Unit tests for dataset-assembly operators: connected components,
deterministic splits/sampling, sequence packing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from lakerunner_spark.dataops.graph import connected_components, neardup_clusters
from lakerunner_spark.dataops.sampling import (
    MOD,
    hash_sample,
    hash_split,
    id_hash,
    sequence_pack,
)


def test_connected_components_two_clusters(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_chain_converges(spark):
    # a path graph is the worst case for min-label propagation: the
    # label must walk the full diameter
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    comp = connected_components(edges).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == n + 1


def test_neardup_clusters_sizes(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    rows = neardup_clusters(pairs).collect()
    sizes = {r["node"]: r["cluster_size"] for r in rows}
    assert sizes == {1: 3, 2: 3, 3: 3, 10: 2, 11: 2}
    # delete list = nodes that are not their own component
    deletes = {r["node"] for r in rows if r["node"] != r["component"]}
    assert deletes == {2, 3, 11}


def test_hash_split_deterministic_and_complete(spark):
    df = spark.range(0, 5000).withColumn(
        "split",
        hash_split(F.col("id"), [("train", 0.8), ("val", 0.1), ("test", 0.1)]),
    )
    counts = {r["split"]: r["n"] for r in df.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 5000
    # within a few percent of the requested weights
    assert abs(counts["train"] / 5000 - 0.8) < 0.05
    assert abs(counts["val"] / 5000 - 0.1) < 0.03
    # identical on re-run (pure expression, no RNG)
    again = {r["split"]: r["n"] for r in df.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts == again


def test_hash_sample_subset_property(spark):
    df = spark.range(0, 4000)
    small = df.filter(hash_sample(F.col("id"), 0.1)).select("id")
    large = df.filter(hash_sample(F.col("id"), 0.3)).select("id")
    # growing the rate only adds rows, never swaps them
    assert small.exceptAll(large).count() == 0
    n_small, n_large = small.count(), large.count()
    assert abs(n_small / 4000 - 0.1) < 0.03
    assert abs(n_large / 4000 - 0.3) < 0.04


def test_id_hash_range(spark):
    rows = spark.range(0, 100).select(id_hash(F.col("id")).alias("h")).collect()
    assert all(0 <= r["h"] < MOD for r in rows)


def test_sequence_pack_greedy(spark):
    # one bucket => a single deterministic greedy stream ordered by id
    df = spark.createDataFrame(
        [(0, 300), (1, 300), (2, 100), (3, 600), (4, 50)],
        ["doc_id", "n_tokens"],
    )
    rows = sequence_pack(df, "doc_id", "n_tokens", budget=512, num_buckets=1).collect()
    packs = {r["doc_id"]: r["pack_id"] for r in rows}
    # 300 -> p0; +300 exceeds -> p1; +100 fits p1; 600 oversized -> p2 alone;
    # 50 opens p3 (600 closed its pack by exceeding the budget)
    assert packs == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_sequence_pack_budget_respected(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 + 1).alias("n_tokens"),
    )
    packed = sequence_pack(df, "doc_id", "n_tokens", budget=128, num_buckets=4)
    # every pack either fits the budget or is a single oversized doc
    bad = (
        packed.groupBy("bucket", "pack_id")
        .agg(F.sum("n_tokens").alias("fill"), F.count("*").alias("n"))
        .filter((F.col("fill") > 128) & (F.col("n") > 1))
        .count()
    )
    assert bad == 0
    # nothing lost
    assert packed.agg(F.sum("n_tokens")).first()[0] == df.agg(F.sum("n_tokens")).first()[0]


def test_ngram_decontaminate(spark):
    from lakerunner_spark.dataops.dedup import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox jumps over a fence"),  # 5-gram hit
            (2, "completely unrelated training text with no overlap here"),
            (3, "short text"),  # < n tokens, drops out of shingling
        ],
        ["doc_id", "text"],
    )
    hits = {r["doc_id"]: r["n_hit_grams"] for r in
            ngram_decontaminate(train, bench, "text", "doc_id", n=5).collect()}
    assert 1 in hits and hits[1] >= 1
    assert 2 not in hits and 3 not in hits


def test_mixture_rate_keeps_everything_under_budget(spark, sf_dir):
    # budget far above any source's total => rate 1.0 => keep all
    from lakerunner_spark.queries_dataops import ds4_domain_mixture  # noqa: F401
    from lakerunner_spark.dataops.sampling import hash_sample

    df = spark.range(0, 100).withColumn("keep", hash_sample(F.col("id"), 1.0))
    assert df.filter(~F.col("keep")).count() == 0


def test_dup_ngram_ratio(spark):
    from lakerunner_spark.dataops.text import dup_ngram_ratio

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # 7 grams, 3 distinct -> 1 - 3/7
            (2, "the quick brown fox jumps"),  # all distinct -> 0.0
            (3, "x y"),  # < 3 tokens -> 0.0
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["r"] for r in
           df.select("doc_id", dup_ngram_ratio("text").alias("r")).collect()}
    assert abs(got[1] - (1 - 3 / 7)) < 1e-12
    assert got[2] == 0.0 and got[3] == 0.0


def test_chunk_dup_ratio_partial_overlap(spark):
    """Two docs sharing one exact 4-token chunk but differing elsewhere:
    doc-level exact dedup sees nothing, chunk dedup flags the shared chunk."""
    from lakerunner_spark.dataops.dedup import chunk_dup_ratio

    shared = "w1 w2 w3 w4"
    df = spark.createDataFrame(
        [
            (1, shared + " a b c d"),   # chunks: [shared, 'a b c d']
            (2, shared + " e f g h"),   # chunks: [shared, 'e f g h']
            (3, "p q r s t u v w"),     # no shared chunks
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in chunk_dup_ratio(df, "text", "doc_id", chunk_tokens=4).collect()
    }
    assert got[1]["n_chunks"] == 2 and got[1]["n_dup_chunks"] == 1
    assert abs(got[1]["dup_chunk_ratio"] - 0.5) < 1e-12
    assert got[2]["n_dup_chunks"] == 1
    assert got[3]["n_dup_chunks"] == 0


def test_chunk_hashes_trailing_partial(spark):
    from lakerunner_spark.dataops.dedup import chunk_hashes

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    rows = chunk_hashes(df, "text", "doc_id", chunk_tokens=2).collect()
    # 5 tokens @ 2/chunk -> 3 chunks, last is the 1-token tail
    assert len(rows) == 3
    assert sorted(r["chunk_idx"] for r in rows) == [0, 1, 2]


def test_pii_scrub_masks_and_counts(spark):
    from lakerunner_spark.dataops.text import pii_counts, pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@sub.example.org now"),
            (2, "host 192.168.001.254 down"),
            (3, "call +44-800-555-0199 today"),
            (4, "clean text with no pii at all"),
        ],
        ["i", "t"],
    )
    c = pii_counts(F.col("t"))
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            pii_scrub(F.col("t")).alias("s"),
            c["email"].alias("e"),
            c["ipv4"].alias("p"),
            c["phone"].alias("f"),
        ).collect()
    }
    assert out[1]["s"] == "mail <EMAIL> now" and out[1]["e"] == 1
    assert out[2]["s"] == "host <IP> down" and out[2]["p"] == 1
    assert out[3]["s"] == "call <PHONE> today" and out[3]["f"] == 1
    assert out[4]["s"] == "clean text with no pii at all"
    assert out[4]["e"] == out[4]["p"] == out[4]["f"] == 0


def test_narrow_minhash_and_jaccard_parity(spark, sf_dir):
    """The narrow (no-explode) MinHash/Jaccard paths must be
    value-identical to the exploded forms the DuckDB oracles mirror."""
    from lakerunner_spark.dataops.dedup import (
        jaccard_verify,
        jaccard_verify_narrow,
        lsh_candidates,
        minhash_signatures,
        minhash_signatures_narrow,
        shingles,
    )
    from lakerunner_spark.testdata import load_table

    d = load_table(spark, sf_dir, "documents").limit(200)
    sh = shingles(d, "text", "doc_id", n=3)
    sig_wide = minhash_signatures(sh, "doc_id")
    sig_narrow = minhash_signatures_narrow(d, "text", "doc_id", n=3,
                                           num_hashes=8)
    assert sig_wide.exceptAll(sig_narrow).isEmpty()
    assert sig_narrow.exceptAll(sig_wide).isEmpty()

    cand = lsh_candidates(sig_narrow, "doc_id", num_hashes=8, band_rows=2)
    jw = jaccard_verify(sh, cand, "doc_id")
    jn = jaccard_verify_narrow(d, cand, "text", "doc_id", n=3)
    assert jw.exceptAll(jn).isEmpty() and jn.exceptAll(jw).isEmpty()


def test_id_hash_sign_and_overflow_safe(spark):
    """Negative and huge ids must hash into [0, 2^32) with DuckDB
    parity — the naive multiply wrapped int64 (DuckDB raises where
    Spark wraps) and Spark's % sign made negative ids always sample."""
    import duckdb

    from lakerunner_spark.dataops.sampling import (
        MOD,
        hash_sample,
        id_hash,
        id_hash_sql,
    )

    ids = [-5, -1, 0, 1, 65535, 65536, 3_500_000_000, 2**62, -(2**61)]
    df = spark.createDataFrame([(i,) for i in ids], "id LONG")
    got = {
        r["id"]: r["h"]
        for r in df.select("id", id_hash(F.col("id")).alias("h")).collect()
    }
    assert all(0 <= h < MOD for h in got.values())
    con = duckdb.connect()
    for i in ids:
        (oh,) = con.execute(f"SELECT {id_hash_sql(str(i))}").fetchone()
        assert oh == got[i], f"id {i}: spark {got[i]} duckdb {oh}"
    # a negative id is NOT unconditionally kept at tiny fractions;
    # only id=0 (hash 0) legitimately stays under any cutoff
    kept = {
        r["id"]: r["k"]
        for r in df.select(
            "id", hash_sample(F.col("id"), 0.0001).alias("k")
        ).collect()
    }
    assert kept[0] and sum(kept.values()) == 1
    # ids differing only in the high word must not collide
    assert got[2**62] != got[-(2**61)] != got[0]


def test_quantile_labels_exact():
    from lakerunner_spark.operators.sketches import _q_label

    assert _q_label(0.5) == "p50"
    assert _q_label(0.57) == "p57"     # int(0.57*100) would be 56
    assert _q_label(0.99) == "p99"
    assert _q_label(0.999) == "p99_9"  # no collision with 0.99
    assert _q_label(0.25) == "p25"


def test_connected_components_raises_without_convergence(spark):
    import pytest

    from lakerunner_spark.dataops.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="no fixed point"):
        connected_components(edges, max_rounds=0, local_threshold=0)


def test_connected_components_local_and_distributed_agree(spark):
    """The driver-side union-find fast path and the distributed star
    rounds must produce identical labelings — random graph with chains,
    cliques, and singleton-free edge soup."""
    import random

    from lakerunner_spark.dataops.graph import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(100, 140)]          # long chain
    edges += [(rng.randrange(50), rng.randrange(50)) for _ in range(80)]
    edges += [(200, 201), (201, 202), (202, 200)]          # cycle
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], ["src", "dst"]
    )
    local = {
        (r.node, r.component)
        for r in connected_components(df).collect()
    }
    dist = {
        (r.node, r.component)
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert local == dist and local
    # every component label is the min of its member set
    by_comp: dict = {}
    for n, c in local:
        by_comp.setdefault(c, set()).add(n)
    for c, members in by_comp.items():
        assert c == min(members | {c})


def test_strip_html_cases(spark):
    """Tag soup, nested blocks, entities, and plain text through
    strip_html — plus the no-backreference constraint that keeps the
    stage chain RE2-portable."""
    import re

    from lakerunner_spark.dataops.text import HTML_STRIP_STAGES, strip_html

    cases = {
        "<p>hello <b>world</b></p>": "hello world",
        "<script>if (a<b) x();</script>text": "text",
        "<style>p { color: red }</style>ok": "ok",
        "<!-- note -->a &amp; b &lt;c&gt;": "a & b <c>",
        "no markup at all": "no markup at all",
        "a\n\n  b\tc": "a b c",
        "&quot;q&quot; &#39;s&#39; x&nbsp;y": "\"q\" 's' x y",
    }
    rows = [(i, s) for i, s in enumerate(cases)]
    df = spark.createDataFrame(rows, ["i", "t"])
    got = {
        r.i: r.c
        for r in df.select("i", strip_html(F.col("t")).alias("c")).collect()
    }
    for i, (src, want) in enumerate(cases.items()):
        assert got[i] == want, (src, got[i], want)

    for pat, _rep in HTML_STRIP_STAGES:
        assert not re.search(r"\\[0-9]", pat), f"backreference in {pat!r}"


def test_strip_html_escaped_entities_and_unclosed_blocks(spark):
    """&amp;-escaped markup must NOT double-decode into live tags, and
    an unclosed script/style block (truncated page) must not leak code
    into the clean text."""
    from lakerunner_spark.dataops.text import strip_html

    cases = {
        "&amp;lt;b&amp;gt; stays text": "&lt;b&gt; stays text",
        "a<script>var x=1; track(user)": "a",
        "b<style>p{color:red": "b",
        "c &amp; d": "c & d",
    }
    df = spark.createDataFrame(list(enumerate(cases)), ["i", "t"])
    got = {
        r.i: r.c
        for r in df.select("i", strip_html(F.col("t")).alias("c")).collect()
    }
    for i, (src, want) in enumerate(cases.items()):
        assert got[i] == want, (src, got[i], want)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the per-round materialization to reliable
    checkpoint(): same labeling, and checkpoint files actually land in
    the directory (proof the reliable path ran, not localCheckpoint)."""
    import os

    from lakerunner_spark.dataops.graph import connected_components

    edges = [(i, i + 1) for i in range(20)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ckpt = str(tmp_path / "ckpt")
    got = {
        (r.node, r.component)
        for r in connected_components(
            df, local_threshold=0, checkpoint_dir=ckpt
        ).collect()
    }
    want = {(i, 0) for i in range(21)} | {(n, 100) for n in (100, 101, 102)}
    assert got == want
    walked = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert walked, "no reliable checkpoint files written"
