"""Round-5 data-prep operators: chunking, semantic dedup, random
projection, unigram LM scoring."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


# ------------------------- chunk_documents ---------------------------------


def _chunks(spark, rows, chunk_tokens=8, overlap=2):
    from lakerunner_spark.dataops.sampling import chunk_documents

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(
        df, "text", "doc_id", chunk_tokens=chunk_tokens, overlap=overlap
    )
    res: dict[int, list] = {}
    for r in sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_idx"])):
        res.setdefault(r["doc_id"], []).append(r)
    return res


def test_chunks_cover_document_with_overlap(spark):
    toks = [f"t{i}" for i in range(20)]
    res = _chunks(spark, [(1, " ".join(toks))], chunk_tokens=8, overlap=2)
    ch = res[1]
    # stride 6: starts 0, 6, 12 -> ceil(max(20-2,1)/6) = 3 chunks
    assert [c["chunk_idx"] for c in ch] == [0, 1, 2]
    # reconstruction: chunk i contributes its tokens after dropping the
    # first `overlap` tokens for i > 0
    rebuilt = ch[0]["chunk_text"].split()
    for c in ch[1:]:
        rebuilt += c["chunk_text"].split()[2:]
    assert rebuilt == toks
    # every chunk except the last is exactly chunk_tokens long
    assert [c["n_tokens"] for c in ch] == [8, 8, 8]


def test_short_doc_single_chunk_and_empty_doc_none(spark):
    res = _chunks(spark, [(1, "only three tokens"), (2, "   ")])
    assert len(res[1]) == 1 and res[1][0]["n_tokens"] == 3
    assert 2 not in res


def test_chunk_overlap_must_be_smaller(spark):
    from lakerunner_spark.dataops.sampling import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=4)


# ------------------------- semantic_dedup ----------------------------------


def test_semantic_dedup_drops_planted_duplicate(spark):
    from lakerunner_spark.dataops.dedup import semantic_dedup

    # two orthogonal families plus a near-copy of vector 0: the copy
    # must land in vector 0's cluster and appear on the delete list
    # with keep_id == 0
    base_a = [1.0, 0.0, 0.0, 0.0]
    base_b = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (0, base_a),
        (1, base_b),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (3, [0.0, 0.95, 0.05, 0.0]),   # near-dup of 1
        (4, [0.0, 0.0, 1.0, 0.0]),     # isolated
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = semantic_dedup(df, n_clusters=2, iters=2, threshold=0.9)
    got = {(r["keep_id"], r["drop_id"]) for r in out.collect()}
    assert (0, 2) in got
    drop_ids = {d for _, d in got}
    assert 4 not in drop_ids and 0 not in drop_ids


def test_semantic_dedup_never_pairs_across_clusters(spark):
    from lakerunner_spark.dataops.dedup import semantic_dedup
    from lakerunner_spark.dataops.similarity import kmeans_assign

    rows = [(i, [float(i % 3 == j) + 0.01 * i for j in range(3)])
            for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_clusters=3, iters=2, threshold=0.0)
    assign = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, n_clusters=3, iters=2).collect()
    }
    for r in out.collect():
        assert assign[r["keep_id"]] == assign[r["drop_id"]] == r["cluster"]


# ----------------------- random projection ---------------------------------


def test_rp_sign_matrix_deterministic_and_balanced():
    from lakerunner_spark.dataops.similarity import rp_sign_matrix

    m1 = rp_sign_matrix(64, 16, seed=0)
    m2 = rp_sign_matrix(64, 16, seed=0)
    assert m1 == m2
    assert rp_sign_matrix(64, 16, seed=1) != m1
    flat = [s for row in m1 for s in row]
    assert set(flat) == {-1, 1}
    # md5 nibbles are uniform: the sign balance should be near half
    assert 0.35 < sum(s == 1 for s in flat) / len(flat) < 0.65


def test_rp_shortlist_recall_vs_exact(spark):
    """Recall@5 of the 24-dim shortlist -> exact re-rank against exact
    full-dim top-5 on real corpus data (near-random embeddings with
    tightly-clustered cosines — a worst case for JL distortion)."""
    from lakerunner_spark.dataops.similarity import cosine_topk
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    exact = cosine_topk(q, c, 5)
    truth: dict[int, set[int]] = {}
    for r in exact.collect():
        truth.setdefault(r["qid"], set()).add(r["cid"])
    approx = entry.queries()["sim6_random_projection"](spark, sf)
    got: dict[int, set[int]] = {}
    for r in approx.collect():
        got.setdefault(r["qid"], set()).add(r["cid"])
    hits = sum(len(truth[q_] & got.get(q_, set())) for q_ in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.7, f"recall@5 {hits}/{total}"


# ----------------------- unigram logprob -----------------------------------


def test_unigram_logprob_flags_oov_noise(spark):
    from lakerunner_spark.dataops.text import unigram_logprob

    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, common) for i in range(0, 70, 7)]  # all in the sample slice
    rows += [(1, common), (2, "zxqj vvkw qqpz xxyz gibberish noise tokens")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["avg_neg_log2"]
        for r in unigram_logprob(df, "text", "doc_id",
                                 sample_mod=7, vocab_k=50).collect()
    }
    # the in-distribution doc scores lower (more probable) than noise
    assert out[1] < out[2]


# ----------------------- leakage-free split --------------------------------


def test_leakage_free_split_keeps_neardups_together(spark):
    """Near-duplicate docs must be assigned the same split (hash taken
    on the cluster representative, not the doc id)."""
    from lakerunner_spark.dataops.dedup import (
        jaccard_verify_narrow,
        lsh_candidates,
        minhash_signatures_narrow,
    )
    from lakerunner_spark.dataops.graph import neardup_clusters
    from lakerunner_spark.dataops.sampling import hash_split

    base = " ".join(f"tok{i}" for i in range(30))
    rows = []
    for g in range(12):
        # pairs (3g, 3g+1) are near-identical; 3g+2 is unrelated
        t = base.replace("tok0", f"grp{g}")
        rows.append((g * 3, t))
        rows.append((g * 3 + 1, t + " tail"))
        rows.append((g * 3 + 2, " ".join(f"z{g}_{i}" for i in range(30))))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures_narrow(d, "text", "doc_id", n=3, num_hashes=8)
    cand = lsh_candidates(sig, "doc_id", num_hashes=8, band_rows=2)
    verified = jaccard_verify_narrow(d, cand, "text", "doc_id", n=3).filter(
        F.col("jaccard") >= 0.6
    )
    clusters = neardup_clusters(verified, "doc_a", "doc_b")
    rep = clusters.select(F.col("node").alias("doc_id"), "component")
    dd = d.join(rep, "doc_id", "left").withColumn(
        "rep", F.coalesce("component", "doc_id")
    )
    out = dd.withColumn(
        "split", hash_split(F.col("rep"), [("train", 0.5), ("test", 0.5)])
    ).select("doc_id", "split").collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    paired = 0
    for g in range(12):
        assert split_of[g * 3] == split_of[g * 3 + 1], f"group {g} leaked"
        paired += 1
    assert paired == 12
    # sanity: the split is not degenerate (both sides populated)
    assert len(set(split_of.values())) == 2


def test_semantic_dedup_ignores_zero_vectors(spark):
    """A zero-norm vector must not pair with anything: its cosine is
    0/0 = NaN and the engines disagree on NaN >= threshold, so the
    guard drops it before pairing."""
    from lakerunner_spark.dataops.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.01]),
        (2, [0.0, 0.0]),     # degenerate
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_clusters=2, iters=1, threshold=0.5)
    ids = {r["keep_id"] for r in out.collect()} | {
        r["drop_id"] for r in out.collect()
    }
    assert 2 not in ids


def test_semantic_dedup_sampled_finds_all_exact_duplicates(spark):
    """The sampled two-level route's planted-duplicate guarantee (the
    property the sf10 measurement leans on): identical vectors take
    identical deterministic assignment paths, so EVERY exact duplicate
    shares its original's cluster and the exact pair stage must emit
    it — the approximation can only miss cross-cell NEAR-dups."""
    import random

    from lakerunner_spark.dataops.dedup import semantic_dedup_sampled

    rng = random.Random(3)
    base = [
        [rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)
    ]
    rows = [(i, v) for i, v in enumerate(base)]
    # plant exact duplicates of originals 0..9 at ids 100..109
    rows += [(100 + i, base[i]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_sampled(
        df, n_clusters=6, coarse_cells=2, sample_mod=3, iters=2,
        threshold=0.9999,
    ).collect()
    found = {(r["keep_id"], r["drop_id"]) for r in out}
    for i in range(10):
        assert (i, 100 + i) in found, f"planted duplicate {i} missed"


def test_semantic_pair_engines_equal(spark, sf_dir):
    """The r12 Arrow pair-scan seam must be BIT-identical to the JVM
    fold join it replaced (same IEEE op order, same round, same
    lowest-keep rule) — checked on the live embeddings fixture (the
    dd12 shape) and on an edge corpus (zero vectors, singleton
    cluster, varying dims)."""
    from lakerunner_spark.dataops.dedup import _pairs_within_clusters
    from lakerunner_spark.dataops.similarity import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign = kmeans_assign(emb, 8, 3).localCheckpoint()

    def rows(engine):
        out = _pairs_within_clusters(
            emb, assign, 0.3, None, engine=engine
        )
        return sorted(
            (r.cluster, r.keep_id, r.drop_id, r.cosine)
            for r in out.collect()
        )

    a, j = rows("arrow"), rows("jvm")
    assert len(a) > 0
    assert a == j  # exact, including every cosine double

    edge = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.998, 0.01, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # zero norm
            (3, [0.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    ea = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 1), (4, 2)], "vec_id long, cluster int"
    )

    def erows(engine):
        out = _pairs_within_clusters(
            edge, ea, 0.5, None, engine=engine
        )
        return sorted(
            (r.cluster, r.keep_id, r.drop_id, r.cosine)
            for r in out.collect()
        )

    assert erows("arrow") == erows("jvm")


def test_kmeans_engines_equal(spark, sf_dir):
    """The r12 numpy k-means train + two-level-assignment seams must be
    BIT-identical to the JVM trajectory/assignment plans they replaced
    (same IEEE accumulation order, same portable_round grid, same
    struct-min total ordering) — pinned three ways: the trained
    centroid table, then the full dd12s output, on the live fixture and
    on an edge corpus (NULL id/vec/element, ragged dims, empty vector,
    NaN values, zero vector)."""
    from lakerunner_spark.dataops.dedup import semantic_dedup_sampled
    from lakerunner_spark.dataops.similarity import (
        _kmeans_trajectory,
        kmeans_cents_arrow,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 4 == 0)

    def cent_rows(df):
        return sorted(
            (r["cluster"], r["pos"], r["cval"]) for r in df.collect()
        )

    _, cents_jvm = _kmeans_trajectory(train, 8, 3)
    cents_arrow = kmeans_cents_arrow(train, 8, 3)
    a, j = cent_rows(cents_arrow), cent_rows(cents_jvm)
    assert len(a) > 0
    assert a == j  # every centroid double exact

    def pair_rows(df, engine):
        out = semantic_dedup_sampled(
            df, n_clusters=8, coarse_cells=3, sample_mod=4, iters=3,
            threshold=0.3, engine=engine,
        )
        return sorted(
            (r.cluster, r.keep_id, r.drop_id, r.cosine)
            for r in out.collect()
        )

    pa_, pj = pair_rows(emb, "arrow"), pair_rows(emb, "jvm")
    assert len(pa_) > 0
    assert pa_ == pj

    edge = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, None),                    # NULL vector
            (3, [0.0, 1.0, 0.5]),         # ragged (longer)
            (4, [None, 1.0]),             # NULL element
            (5, []),                      # empty vector
            (6, [float("nan"), 2.0]),     # NaN value (trains: 6%3==0)
            (7, [1.0]),                   # ragged (shorter)
            (None, [1.0, 0.0]),           # NULL id
            (9, [0.0, 0.0]),              # zero vector
            (12, [1.0, 0.05]),
            (13, [0.89, 0.11]),
        ],
        "vec_id long, embedding array<double>",
    )

    def erows(engine):
        out = semantic_dedup_sampled(
            edge, n_clusters=4, coarse_cells=2, sample_mod=3, iters=2,
            threshold=0.5, engine=engine,
        )
        return sorted(
            (r.cluster, r.keep_id, r.drop_id, r.cosine)
            for r in out.collect()
        )

    assert erows("arrow") == erows("jvm")


def test_winnow_engines_equal(spark, sf_dir):
    """The r12 Arrow winnow seam must produce BIT-identical
    (doc, fingerprint) sets to the JVM HOF chain (exact int64 mod-p
    arithmetic, same tokenization) — on the live corpus and on an edge
    corpus (NULL text, empty text, <k tokens, exactly-k tokens with
    fewer than w grams, unicode chars, punctuation-only)."""
    from lakerunner_spark.dataops.text import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def rows(d, engine):
        out = winnow_fingerprints(d, "text", "doc_id", 5, 4, engine=engine)
        return sorted((r[0], r[1]) for r in out.collect())

    a, j = rows(docs, "arrow"), rows(docs, "jvm")
    assert len(a) > 0
    assert a == j

    edge = spark.createDataFrame(
        [
            (0, None),
            (1, ""),
            (2, "one two three four"),  # < k tokens
            (3, "one two three four five"),  # exactly k -> 1 gram < w
            (4, "a b c d e f g"),  # k+2 tokens -> 3 grams < w
            (5, "a b c d e f g h i j k l m"),  # > k+w-1 tokens
            (6, "!!! ??? ... ---"),  # punctuation-only -> no tokens
            (7, "Héllo WÖRLD mixed ünïcode tokens here right now"),
            (8, "repeat repeat repeat repeat repeat repeat repeat"),
        ],
        "doc_id long, text string",
    )
    assert rows(edge, "arrow") == rows(edge, "jvm")


def test_semantic_dedup_sampled_validates_coarse_cells(spark):
    from lakerunner_spark.dataops.dedup import semantic_dedup_sampled

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    import pytest

    with pytest.raises(ValueError, match="coarse_cells"):
        semantic_dedup_sampled(df, n_clusters=4, coarse_cells=5)


def test_remove_duplicate_spans_merges_and_keeps_first(spark):
    """Span removal semantics on a constructed corpus: overlapping
    intervals union before cutting, the lower-id doc keeps its copy,
    and unaffected tokens survive in order."""
    from pyspark.sql import functions as F

    from lakerunner_spark.dataops.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    # doc 2 loses tokens [2,5) and [4,8) -> union [2,8): keeps a,h,i,j
    spans = spark.createDataFrame(
        [(2, 2, 5), (2, 4, 8)], "doc_id long, start long, end long"
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, spans).collect()}
    assert set(out) == {2}  # doc 1 untouched (not even emitted)
    assert out[2].n_tokens == 10 and out[2].n_removed == 6
    assert out[2].clean_text == "a h i j"

    # disjoint spans cut independently
    spans2 = spark.createDataFrame(
        [(2, 1, 3), (2, 9, 11)], "doc_id long, start long, end long"
    )
    r = remove_duplicate_spans(docs, spans2).collect()[0]
    assert r.clean_text == "c d e f g h" and r.n_removed == 4


def test_substring_spans_match_verified_runs(spark):
    """substring_duplicate_spans' intervals are consistent with
    substring_verify_runs: the longest span length per pair-target doc
    equals the pair's verified longest_run (same island core)."""
    from lakerunner_spark.dataops.dedup import (
        substring_duplicate_spans,
        substring_verify_runs,
    )

    base = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, base + " unique tail one"),
            (2, "prefix two " + base),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    runs = {
        (r.doc_a, r.doc_b): r.longest_run
        for r in substring_verify_runs(docs, pairs, "text", "doc_id", k=5).collect()
    }
    spans = substring_duplicate_spans(
        docs, pairs, "text", "doc_id", k=5, min_run=10
    ).collect()
    assert runs[(1, 2)] == 30
    assert len(spans) == 1 and spans[0].doc_id == 2
    assert spans[0].end - spans[0].start == 30
    # the shared block sits after "prefix two" -> tokens 3..33
    assert (spans[0].start, spans[0].end) == (3, 33)


def test_chunk_documents_property(spark):
    """Property sweep across doc lengths and chunk geometries: full
    coverage, overlap-consistent reconstruction, bounded sizes."""
    from lakerunner_spark.dataops.sampling import chunk_documents

    cases = [
        (1, 8, 2), (7, 8, 2), (8, 8, 2), (9, 8, 2), (16, 8, 4),
        (17, 8, 4), (50, 16, 0), (33, 5, 1), (100, 32, 8), (3, 4, 1),
    ]
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(n)))
        for i, (n, _, _) in enumerate(cases)
    ]
    for i, (n, ck, ov) in enumerate(cases):
        df = spark.createDataFrame([rows[i]], "doc_id long, text string")
        out = sorted(
            chunk_documents(df, "text", "doc_id", ck, ov).collect(),
            key=lambda r: r["chunk_idx"],
        )
        toks = rows[i][1].split()
        stride = ck - ov
        rebuilt = list(out[0]["chunk_text"].split())
        for c in out[1:]:
            rebuilt += c["chunk_text"].split()[ov:]
        assert rebuilt == toks, (n, ck, ov)
        assert all(c["n_tokens"] <= ck for c in out)
        assert [c["chunk_idx"] for c in out] == list(range(len(out)))


# ------------------------- grouped-rank routes -----------------------------


def _scored_docs(spark):
    rows = [
        (s * 1000 + i, f"src{s}", float((i * 37) % 100) / 100.0)
        for s in range(3)
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, score double")


def test_txt12_build_runs_no_more_jobs_than_txt12s(spark, sf_dir):
    """txt12 pins the exact route instead of probing the corpus for its
    largest language, so building it runs exactly the jobs building its
    sketch twin txt12s runs: none of them choose a route."""
    from conftest import jobs_in_group

    from lakerunner_spark.queries_dataops import (
        txt12_ccnet_buckets,
        txt12s_ccnet_sketch_buckets,
    )

    builds = (txt12_ccnet_buckets, txt12s_ccnet_sketch_buckets)
    for build in builds:  # warm the per-table schema memo
        build(spark, sf_dir)
    exact, sketch = (
        jobs_in_group(spark, lambda b=b: b(spark, sf_dir))[1] for b in builds
    )
    assert exact == sketch, (exact, sketch)


def test_percentile_filter_routes_agree_off_boundary(spark):
    """The two routes may only disagree within the sketch's relative-
    error band around the cutoff score. With 1% relative accuracy and
    this fixture's score spacing (0.01), any disagreement is confined
    to scores within ~2% of the threshold — checked by asserting
    symmetric-difference rows all sit near the window route's cutoff."""
    from lakerunner_spark.dataops.sampling import percentile_filter

    df = _scored_docs(spark)
    win = {(r.doc_id, r.score) for r in percentile_filter(
        df, "score", "source", 0.7, mode="window").collect()}
    sk = {(r.doc_id, r.score) for r in percentile_filter(
        df, "score", "source", 0.7, mode="sketch").collect()}
    cutoff = min(s for _, s in win)
    for _, s in win.symmetric_difference(sk):
        assert abs(s - cutoff) <= 0.05 * max(cutoff, 1e-9), (s, cutoff)


def test_rank_buckets_routes_agree_off_boundary(spark):
    """Route equivalence property (the verdict's 'scale-safe by
    default' contract): the window and sketch routes assign the SAME
    bucket to every row except within the sketch's relative-error band
    around each boundary threshold. With 1% relative accuracy the band
    is ~±2% of the cutoff score; any disagreeing row must sit inside
    one of the two bands."""
    from lakerunner_spark.dataops.sampling import rank_buckets

    df = _scored_docs(spark)
    args = (df, "score", "source", [1 / 3, 2 / 3],
            ["head", "middle", "tail"])
    win = {(r.doc_id): (r.bucket, r.score) for r in rank_buckets(
        *args, mode="window", tiebreak_col="doc_id").collect()}
    sk = {(r.doc_id): (r.bucket, r.score) for r in rank_buckets(
        *args, mode="sketch").collect()}
    assert set(win) == set(sk)  # bucketing never drops or adds rows
    # per-source exact cutoff scores from the window route: the lowest
    # score assigned to each bucket above head
    cutoffs: dict[tuple, float] = {}
    for doc_id, (bucket, score) in win.items():
        src = f"src{doc_id // 1000}"
        for b in ("middle", "tail"):
            if bucket == b:
                key = (src, b)
                cutoffs[key] = min(cutoffs.get(key, float("inf")), score)
    for doc_id in win:
        if win[doc_id][0] == sk[doc_id][0]:
            continue
        score = win[doc_id][1]
        src = f"src{doc_id // 1000}"
        near = any(
            abs(score - cutoffs[(src, b)]) <= 0.05 * max(cutoffs[(src, b)], 1e-9)
            for b in ("middle", "tail")
            if (src, b) in cutoffs
        )
        assert near, (doc_id, win[doc_id], sk[doc_id], cutoffs)


def test_rank_buckets_validates_arguments():
    from lakerunner_spark.dataops.sampling import rank_buckets

    with pytest.raises(ValueError, match="labels"):
        rank_buckets(None, "s", "g", [0.5], ["a"], mode="window")
    with pytest.raises(ValueError, match="ascending"):
        rank_buckets(None, "s", "g", [0.7, 0.3], ["a", "b", "c"],
                     mode="window")
    with pytest.raises(ValueError, match="unknown mode"):
        rank_buckets(None, "s", "g", [0.5], ["a", "b"], mode="exact")
    # no auto route: the caller must pick one
    with pytest.raises(ValueError, match="unknown mode"):
        rank_buckets(None, "s", "g", [0.5], ["a", "b"], mode=None)


def test_decontaminate_spans_cuts_quote_keeps_rest(spark):
    """dd17's contract on planted contamination: a corpus doc quoting
    a >= 20-token benchmark passage loses EXACTLY that span (not the
    whole doc — the over-deletion dd13 would commit), a doc with only
    a short overlap is untouched, and the benchmark doc itself is
    never rewritten."""
    from pyspark.sql import functions as F

    from lakerunner_spark.dataops.dedup import (
        remove_duplicate_spans,
        substring_duplicate_spans,
    )
    from lakerunner_spark.dataops.text import winnow_fingerprints

    passage = " ".join(f"benchword{i}" for i in range(25))
    rows = [
        (0, f"the eval question says {passage} end of question"),
        # corpus doc 1 quotes the full passage mid-document
        (1, f"intro text here {passage} and original analysis follows"),
        # corpus doc 2 shares only a 6-token fragment (< 20): untouched
        (2, "unrelated body benchword0 benchword1 benchword2 benchword3"
            " benchword4 benchword5 more original prose entirely its own"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(d, "text", "doc_id", k=5, w=4)
    bench = fps.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("doc_a"), "fingerprint"
    )
    cand = (
        fps.filter(F.col("doc_id") != 0)
        .join(F.broadcast(bench), "fingerprint")
        .groupBy("doc_a", F.col("doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("doc_a", "doc_b")
    )
    spans = substring_duplicate_spans(
        d, cand, "text", "doc_id", k=5, min_run=20
    )
    out = {r["doc_id"]: r for r in
           remove_duplicate_spans(d, spans, "text", "doc_id").collect()}
    assert set(out) == {1}  # only the quoting doc is affected
    r = out[1]
    assert r["n_removed"] == 25
    assert "benchword" not in r["clean_text"]
    assert "intro text here" in r["clean_text"]
    assert "original analysis follows" in r["clean_text"]


def test_percentile_filter_keep_pct_requires_window():
    from lakerunner_spark.dataops.sampling import percentile_filter

    with pytest.raises(ValueError, match="keep_pct"):
        percentile_filter(None, "score", "source", 0.7, mode="sketch",
                          keep_pct="pct")
    # no auto route: the caller must pick one
    with pytest.raises(ValueError, match="unknown mode"):
        percentile_filter(None, "score", "source", 0.7, mode=None)


# ------------------------- substring_verify_runs ---------------------------


def test_substring_verify_exact_run_length(spark):
    """A planted 12-token shared run between two otherwise-different
    documents verifies at exactly 12 (k-1 + consecutive matched
    grams); a pair sharing only scattered short overlaps below k never
    appears; the verified set is a subset of the candidate input."""
    from lakerunner_spark.dataops.dedup import substring_verify_runs

    shared = " ".join(f"run{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta epsilon zeta"),
            (2, f"one two three {shared} four five six seven"),
            (3, "totally unrelated words without any overlap here"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    out = {
        (r.doc_a, r.doc_b): r.longest_run
        for r in substring_verify_runs(docs, pairs, k=5).collect()
    }
    # (1,3) shares no 5-gram -> dropped; (1,2) verifies at exactly 12
    assert out == {(1, 2): 12}


def test_substring_verify_subset_of_dd11(spark, sf_dir):
    """On the real corpus, dd11v's verified pairs are a subset of
    dd11's candidates and every reported run is >= k (a shared gram IS
    a run of at least k tokens)."""
    import __spark_entry__ as entry

    cand = {
        (r.doc_a, r.doc_b)
        for r in entry.queries()["dd11_substring_dedup"](spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    }
    ver = entry.queries()["dd11v_substring_verify"](spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b) for r in ver} <= cand
    assert all(r.longest_run >= 5 for r in ver)


def test_prefix_sum_matches_global_window(spark):
    """The two-pass bucketed prefix sum is semantically a plain
    global-window exclusive cumsum — verify equality row-for-row, and
    that the DATA window in the plan is partitioned (the whole point:
    no single-task window over the corpus; the only unpartitioned
    window runs over the <=256 bucket totals)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakerunner_spark.dataops.sampling import id_hash, prefix_sum

    df = (
        spark.range(0, 3000)
        .select(
            F.col("id").alias("doc_id"),
            id_hash(F.col("id"), salt=9).alias("k"),
            (F.col("id") % 37 + 1).alias("v"),
        )
        .repartition(8)
    )
    got = {
        r.doc_id: r.cum
        for r in prefix_sum(
            df, "k", "v", out_col="cum", buckets=64, tiebreak_col="doc_id"
        ).collect()
    }
    w = (
        Window.orderBy(F.col("k").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r.doc_id: r.cum
        for r in df.select(
            "doc_id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("cum")
        ).collect()
    }
    assert got == want and len(got) == 3000

    plan = (
        prefix_sum(df, "k", "v", buckets=64, tiebreak_col="doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    data_windows = [
        ln for ln in plan.splitlines() if "Window [sum(v#" in ln
    ]
    assert data_windows, "expected the local-cumsum window in the plan"
    # the local window must carry a partition spec (the bucket column)
    # — i.e. it is NOT the move-everything-to-one-task unpartitioned
    # form. Spark prints it as: Window [sum(v#..)..], [_psb#..], [k#..]
    for ln in data_windows:
        assert "], [_psb#" in ln, f"data window unpartitioned: {ln}"


def test_rank_buckets_null_group_and_score(spark):
    """NULL handling contract across routes (undetected language /
    unscorable doc — common in real crawls): a NULL group key is a
    group like any other on BOTH routes (the sketch attach is a
    null-safe LEFT join — a plain inner join would silently delete
    every NULL-group row when the gate flips to sketch), and a NULL
    score lands in the lowest bucket on both (the window orders NULLs
    first; the sketch route makes that explicit rather than letting
    NULL <= threshold fall through to the top bucket)."""
    from lakerunner_spark.dataops.sampling import rank_buckets

    rows = (
        [(i, "en", float(i)) for i in range(30)]
        + [(100 + i, None, float(i)) for i in range(30)]
        + [(200, "en", None), (201, None, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double")
    args = (df, "score", "grp", [1 / 3, 2 / 3], ["head", "middle", "tail"])
    win = {r.doc_id: r.bucket for r in rank_buckets(
        *args, mode="window").collect()}
    sk = {r.doc_id: r.bucket for r in rank_buckets(
        *args, mode="sketch").collect()}
    assert set(win) == set(sk) == {r[0] for r in rows}  # no row dropped
    assert sk[200] == sk[201] == "head"  # NULL score -> lowest bucket
    assert win[200] == win[201] == "head"
    # NULL-group rows bucket by their own group's thresholds
    diffs = [d for d in win if win[d] != sk[d]]
    # disagreements only near tercile cutoffs (the documented band)
    for d in diffs:
        score = dict((r[0], r[2]) for r in rows)[d]
        assert score is not None


def test_percentile_filter_keeps_null_group_rows(spark):
    """percentile_filter's sketch route must not delete NULL-group
    rows either (same null-safe attach)."""
    from lakerunner_spark.dataops.sampling import percentile_filter

    rows = [(i, "en" if i % 2 else None, float(i % 50)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double")
    win = {r.doc_id for r in percentile_filter(
        df, "score", "grp", 0.5, mode="window").collect()}
    sk = {r.doc_id for r in percentile_filter(
        df, "score", "grp", 0.5, mode="sketch").collect()}
    assert any(r[1] is None for r in rows)
    assert {d for d in sk if d % 2 == 0}, "NULL-group rows must survive"
    # routes agree except near the cutoff (scores are 0..49 ints)
    for d in win.symmetric_difference(sk):
        assert 20 <= (d % 50) <= 30, d


def test_txt13_dedup_anti_join_matches_join_back(spark):
    """txt13's paragraph dedup (narrow window decision + left_anti on
    the unique pk, r12) must keep EXACTLY the rows of the displaced
    min(pk)-per-hash join-back shape, including the NULL-pk semantics:
    the old `pk == mpk` filter silently dropped NULL-pk rows (NULL
    comparison), where an unguarded left_anti would keep them — the
    isNotNull pre-filter pins that. Edge corpus: cross-doc duplicate
    paragraphs, within-doc duplicates, a NULL doc_id document whose
    paragraphs must ALL be dropped, an empty and a one-token doc."""
    from lakerunner_spark.queries_dataops import _txt13_kept, _txt13_paras

    dup8 = "a b c d e f g h"
    rows = [
        (1, dup8 + " " + dup8 + " tail0"),          # within-doc dup
        (2, dup8 + " other tokens here x y z q"),   # cross-doc dup of 1
        (3, "unique words only for doc three"),
        (None, dup8 + " " + "n u l l d o c 9"),     # NULL doc_id
        (4, ""),                                    # empty -> filtered
        (5, "single"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    paras = _txt13_paras(d)
    kept_new = _txt13_kept(paras)

    keyed = paras.select(
        "doc_id", "idx", "para",
        F.md5("para").alias("h"),
        (F.col("doc_id") * 100000 + F.col("idx")).alias("pk"),
    )
    firsts = keyed.groupBy("h").agg(F.min("pk").alias("mpk"))
    kept_old = keyed.join(firsts, "h").filter(
        F.col("pk") == F.col("mpk")
    ).select("doc_id", "idx", "para", "pk")

    a = kept_new.select("pk", "doc_id", "idx", "para")
    b = kept_old.select("pk", "doc_id", "idx", "para")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    got = {(r.doc_id, r.idx) for r in a.collect()}
    assert (1, 0) in got and (1, 1) not in got      # within-doc dup gone
    assert (2, 0) not in got                        # cross-doc dup gone
    assert not any(doc is None for doc, _ in got)   # NULL pk rows dropped

    # pk-collision guard (r13, ADVICE): pk = doc_id*100000 + idx is
    # only the ORDER key; the anti-join keys on (doc_id, idx), so a
    # >=100k-paragraph document colliding into the next doc_id must
    # not drop that doc's unrelated paragraph. Here (7, 100000) is a
    # DROPPED duplicate whose pk (800000) equals doc 8 idx 0's pk —
    # doc 8's paragraph must survive.
    coll = spark.createDataFrame(
        [
            (7, 0, "dup para"),
            (7, 100000, "dup para"),
            (8, 0, "innocent bystander"),
        ],
        "doc_id long, idx int, para string",
    )
    kept_c = {(r.doc_id, r.idx) for r in _txt13_kept(coll).collect()}
    assert kept_c == {(7, 0), (8, 0)}
