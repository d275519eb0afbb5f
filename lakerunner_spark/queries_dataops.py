"""Training-data pipeline query catalog: dedup / similarity / text analysis.

Oracle parity strategy: all hashing is md5-based so DuckDB reproduces
the exact pipeline; cosine/jaccard are rounded before ranking so IEEE
summation order can't flip results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakerunner_spark.dataops.dedup import (
    exact_dedup_stats,
    jaccard_verify_narrow,
    lsh_candidates,
    minhash_signatures_narrow,
    simhash,
)
from lakerunner_spark.dataops.similarity import cosine_topk
from lakerunner_spark.dataops.text import (
    langid_heuristic,
    structural_fingerprint,
    text_stats,
    token_count,
)
from lakerunner_spark.queries import register
from lakerunner_spark.testdata import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments (mirror the Spark builders exactly)
# ---------------------------------------------------------------------------

_SHINGLES_SQL = """
  SELECT doc_id,
         unnest(list_transform(range(1, len(tokens) - 1),
                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
         AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
  WHERE len(tokens) >= 3
"""

_SIG_SQL = f"""
  SELECT doc_id,
         {", ".join(f"min(substr(md5('{i // 4}|' || shingle), {(i % 4) * 8 + 1}, 8)) AS h{i}" for i in range(8))}
  FROM ({_SHINGLES_SQL}) GROUP BY doc_id
"""

_BANDS_SQL = f"""
  WITH sig AS ({_SIG_SQL})
  SELECT doc_id, band, bsig FROM (
    SELECT doc_id, 0 AS band, h0 || h1 AS bsig FROM sig
    UNION ALL SELECT doc_id, 1, h2 || h3 FROM sig
    UNION ALL SELECT doc_id, 2, h4 || h5 FROM sig
    UNION ALL SELECT doc_id, 3, h6 || h7 FROM sig
  )
"""

_CANDIDATES_SQL = f"""
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ({_BANDS_SQL}) a JOIN ({_BANDS_SQL}) b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
"""


@register(
    "dd1_dedup_exact",
    """
    SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
           count(*) - count(DISTINCT text) AS n_dups
    FROM documents GROUP BY source
    """,
)
def dd1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (stats form)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup_stats(d, "text", ["source"])


@register(
    "dd2_minhash_lsh",
    f"""
    SELECT doc_a, doc_b FROM ({_CANDIDATES_SQL})
    """,
)
def dd2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 hashes) + LSH (4 bands × 2 rows) candidate pairs.
    Signatures via the narrow no-explode path (value-identical to the
    exploded form the oracle mirrors — test_narrow_minhash_parity)."""
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures_narrow(d, "text", "doc_id", n=3, num_hashes=8)
    return lsh_candidates(sig, "doc_id", num_hashes=8, band_rows=2)


@register(
    "dd3_jaccard_verify",
    f"""
    WITH cand AS ({_CANDIDATES_SQL}),
    sets AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sets GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared
      FROM cand c
      JOIN sets a ON a.doc_id = c.doc_a
      JOIN sets b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           pround(coalesce(s.shared, 0) * 1.0 /
                 (sa.n_sh + sb.n_sh - coalesce(s.shared, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """,
)
def dd3_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification of LSH candidate pairs — both
    stages on the narrow array paths (no exploded-shingle shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures_narrow(d, "text", "doc_id", n=3, num_hashes=8)
    cand = lsh_candidates(sig, "doc_id", num_hashes=8, band_rows=2)
    return jaccard_verify_narrow(d, cand, "text", "doc_id", n=3)


@register(
    "dd4_simhash",
    f"""
    SELECT simhash, count(*) AS n FROM (
      SELECT doc_id,
             {" + ".join(f"(CASE WHEN sum(CASE WHEN (w >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN CAST({1 << (15 - j)} AS BIGINT) ELSE 0 END)" for j in range(16))} AS simhash
      FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) AS w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      )
      GROUP BY doc_id
    ) GROUP BY simhash
    """,
)
def dd4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprint (16-bit, per-bit token majority vote)."""
    d = load_table(spark, sf_dir, "documents")
    s = simhash(d, "text", "doc_id", bits=16)
    return s.groupBy("simhash").agg(F.count(F.lit(1)).alias("n"))


@register(
    "dd5_embedding_neardup",
    """
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    f AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
          FROM e CROSS JOIN unnest(range(1, 65)) AS t(i)),
    n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM f GROUP BY vec_id),
    d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
          FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
          GROUP BY 1, 2)
    SELECT id_a, id_b, pround(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
    WHERE pround(dot / (na.nrm * nb.nrm), 4) >= 0.3
    """,
)
def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the guarded candidates->verify
    API: candidates are an explicit bounded pair set (here all pairs of a
    200-vector slice), verified by exact cosine in neardup_verify — the
    all-pairs corpus entry point is deprecated."""
    from lakerunner_spark.dataops.dedup import (
        all_pairs_candidates,
        neardup_verify,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return neardup_verify(all_pairs_candidates(emb), emb, 0.3)


@register(
    "sim1_cosine_topk",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    qf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM q CROSS JOIN unnest(range(1, 65)) AS t(i)),
    cf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM c CROSS JOIN unnest(range(1, 65)) AS t(i)),
    qn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM qf GROUP BY vec_id),
    cn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM cf GROUP BY vec_id),
    dots AS (
      SELECT qf.vec_id AS qid, cf.vec_id AS cid, sum(qf.v * cf.v) AS dot
      FROM qf JOIN cf ON qf.i = cf.i
      GROUP BY qf.vec_id, cf.vec_id
    )
    SELECT qid, cid, cosine FROM (
      SELECT qid, cid,
             pround(dot / (qn.nrm * cn.nrm), 4) AS cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY pround(dot / (qn.nrm * cn.nrm), 4) DESC,
                                         cid ASC) AS rn
      FROM dots JOIN qn ON qn.vec_id = dots.qid JOIN cn ON cn.vec_id = dots.cid
    ) WHERE rn <= 5
    """,
)
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 3 query vectors over the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    return cosine_topk(q, c, k=5)


@register(
    "txt1_text_stats",
    """
    SELECT lang, count(*) AS n_docs,
           pround(avg(nt), 6) AS avg_tokens,
           pround(avg(nc), 6) AS avg_chars,
           pround(avg((nc - (nt - 1)) * 1.0 / nt), 6) AS avg_word_len,
           pround(avg(least(1.0, nt / 50.0) * 0.5 + least(1.0, nc / 300.0) * 0.5), 6)
             AS avg_quality
    FROM (
      SELECT lang, len(string_split(text, ' ')) * 1.0 AS nt,
             length(text) * 1.0 AS nc
      FROM documents
    )
    GROUP BY lang
    """,
)
def txt1_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document statistics + length-based quality score."""
    d = load_table(spark, sf_dir, "documents")
    return text_stats(d, "text", ["lang"])


@register(
    "txt2_langid",
    """
    SELECT lang, predicted, count(*) AS n
    FROM (
      SELECT lang,
             CASE WHEN (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END) >= 2
                  THEN 'en'
                  WHEN (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END +
                        CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END) = 1
                  THEN 'en_maybe' ELSE 'other' END AS predicted
      FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    )
    GROUP BY lang, predicted
    """,
)
def txt2_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language-ID heuristic vs the labeled lang column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", langid_heuristic(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "txt3_bpe_token_count",
    f"""
    SELECT event_type,
           CAST(sum(len(regexp_extract_all(line, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')))
                AS BIGINT) AS total_bpe_tokens
    FROM (
      SELECT event_type,
             event_type || ' user=' || CAST(user_id AS VARCHAR) || ' props=' || props
             AS line
      FROM events
    )
    GROUP BY event_type
    """,
)
def txt3_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting over synthesized log lines."""
    e = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.col("event_type"),
        F.lit(" user="),
        F.col("user_id").cast("string"),
        F.lit(" props="),
        F.col("props"),
    )
    return (
        e.select("event_type", token_count(line, mode="bpe").alias("_n"))
        .groupBy("event_type")
        .agg(F.sum("_n").cast("long").alias("total_bpe_tokens"))
    )


@register(
    "txt4_quality_components",
    """
    SELECT lang,
           pround(avg(len(list_filter(toks,
             t -> t IN ('the','a','of','and','to'))) * 1.0 / len(toks)), 6)
             AS avg_stopword_ratio,
           pround(avg(length(regexp_replace(text,
             '[^\\.,;:!?''"()\\[\\]{}]', '', 'g')) * 1.0 / length(text)), 6)
             AS avg_punct_ratio,
           pround(avg(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / length(text)), 6) AS avg_digit_ratio,
           pround(avg(len(list_distinct(toks)) * 1.0 / len(toks)), 6)
             AS avg_uniq_token_ratio
    FROM (SELECT lang, text, string_split(text, ' ') AS toks FROM documents)
    GROUP BY lang
    """,
)
def txt4_quality_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richer quality scoring: stopword/punct/digit/uniq-token ratios."""
    from lakerunner_spark.dataops.text import quality_components
    from lakerunner_spark.functions.rounding import portable_round as _pr

    d = load_table(spark, sf_dir, "documents")
    comps = quality_components(F.col("text"))
    sel = d.select("lang", *[c.alias(k) for k, c in comps.items()])
    return sel.groupBy("lang").agg(
        *[_pr(F.avg(k), 6).alias(f"avg_{k}") for k in comps]
    )


@register(
    "fp1_structural_fingerprint",
    f"""
    SELECT fingerprint, count(*) AS n FROM (
      SELECT md5(regexp_replace(
               event_type || ' user=' || CAST(user_id AS VARCHAR) || ' ' || props,
               '[0-9]+', '#', 'g')) AS fingerprint
      FROM events
    )
    GROUP BY fingerprint
    """,
)
def fp1_structural_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16-style structural fingerprint: mask variable parts, hash template."""
    e = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.col("event_type"),
        F.lit(" user="),
        F.col("user_id").cast("string"),
        F.lit(" "),
        F.col("props"),
    )
    return (
        e.select(structural_fingerprint(line).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_WINNOW_FPS_CTE = """
    toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), t -> t != '') AS tk
      FROM documents
    ), th AS (
      SELECT doc_id,
             list_transform(
                 list_transform(tk, t -> list_reduce(
                     list_transform(string_split(t, ''),
                                    c -> CAST(ascii(c) AS BIGINT)),
                     (hh, c) -> (hh * 31 + c) % 1000000007)),
                 f -> (f * f + f) % 1000000007) AS tkh
      FROM toks WHERE len(tk) >= 5
    ), h AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(tkh) - 4),
                 i -> list_reduce(tkh[i:i+4],
                     (hh, c) -> (hh * 31 + c) % 1000000007)) AS gh
      FROM th
    ), wins AS (
      SELECT doc_id,
             CASE WHEN len(gh) >= 4
                  THEN list_transform(generate_series(1, len(gh) - 3),
                                      j -> list_min(gh[j:j+3]))
                  ELSE [list_min(gh)] END AS w
      FROM h
    ), fps AS (
      SELECT DISTINCT doc_id, unnest(w) AS fingerprint FROM wins
    )
"""


@register(
    "dd6_winnow_fingerprints",
    f"""
    WITH {_WINNOW_FPS_CTE.strip()}
    SELECT doc_id, fingerprint FROM fps
    """,
)
def dd6_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing): k=5 token grams
    hashed with a portable mod-p polynomial fold, w=4 window minima,
    deduped — both engines compute the identical integer arithmetic."""
    from lakerunner_spark.dataops.text import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "text", "doc_id", k=5, w=4)


# ---------------------------------------------------------------------------
# dataset assembly: clustering, splits, sampling, packing
# ---------------------------------------------------------------------------

_NEARDUP_PAIRS_SQL = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    f AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
          FROM e CROSS JOIN unnest(range(1, 65)) AS t(i)),
    n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM f GROUP BY vec_id),
    d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
          FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
          GROUP BY 1, 2)
    SELECT id_a, id_b
    FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
    WHERE pround(dot / (na.nrm * nb.nrm), 4) >= 0.3
"""


@register(
    "dd7_neardup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_NEARDUP_PAIRS_SQL}),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(u, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e2.u, w.label FROM edges e2 JOIN walk w ON w.u = e2.v
    ),
    comp AS (SELECT u AS node, min(label) AS component FROM walk GROUP BY u),
    sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY component)
    SELECT node, component, cluster_size
    FROM comp JOIN sizes USING (component)
    """,
)
def dd7_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of verified near-dup pairs -> one canonical id
    (the cluster minimum) per document: the pairs->delete-list step of a
    production dedup pipeline. Spark side runs iterative min-label
    propagation (dataops/graph.py, one shuffle per round, converges in
    O(cluster diameter)); the oracle computes the same components with a
    recursive CTE."""
    from lakerunner_spark.dataops.dedup import (
        all_pairs_candidates,
        neardup_verify,
    )
    from lakerunner_spark.dataops.graph import neardup_clusters

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pairs = neardup_verify(all_pairs_candidates(emb), emb, 0.3)
    return neardup_clusters(pairs, "id_a", "id_b")


_SPLIT_WEIGHTS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


@register(
    "ds1_hash_split",
    None,  # assembled below once sampling helpers are imported
)
def ds1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment from a multiplicative
    integer hash of doc_id — reproducible on any cluster size with no
    RNG state; both engines do the identical BIGINT arithmetic."""
    from lakerunner_spark.dataops.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("split", hash_split(F.col("doc_id"), _SPLIT_WEIGHTS))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "ds2_stratified_sample",
    None,
)
def ds2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates (50%
    en, 20% otherwise) applied as a pure per-row hash threshold — no
    shuffle, subset-stable as rates grow."""
    from lakerunner_spark.dataops.sampling import hash_sample

    d = load_table(spark, sf_dir, "documents")
    frac = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(0.2))
    kept = hash_sample(F.col("doc_id"), frac, salt=7)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept.cast("long")).alias("n_kept"),
    )


@register(
    "ds3_sequence_pack",
    """
    WITH RECURSIVE docs AS (
      SELECT doc_id % 8 AS bucket, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed(bucket, rn, n_tokens, pack_id, acc) AS (
      SELECT bucket, rn, n_tokens, CAST(0 AS BIGINT), n_tokens
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.rn, d.n_tokens,
             CASE WHEN p.acc + d.n_tokens > 512
                  THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.acc + d.n_tokens > 512
                  THEN d.n_tokens ELSE p.acc + d.n_tokens END
      FROM docs d JOIN packed p ON d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT bucket, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY bucket, pack_id
    """,
)
def ds3_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 512-token budgets across 8
    hash-partitioned independent streams (Arrow-batched applyInPandas
    per bucket); the oracle replays the same greedy recurrence with a
    recursive CTE. Output is per-pack fill statistics."""
    from lakerunner_spark.dataops.sampling import sequence_pack
    from lakerunner_spark.dataops.text import token_count

    d = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    packed = sequence_pack(d, "doc_id", "n_tokens", budget=512, num_buckets=8)
    return packed.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


# oracle SQL for the hash-based splits, built from the same helpers so
# the arithmetic can't drift from the Spark expressions
from lakerunner_spark.dataops.sampling import hash_sample_sql, hash_split_sql, id_hash_sql
from lakerunner_spark.queries import ORACLE

ORACLE["ds1_hash_split"] = f"""
    SELECT {hash_split_sql("doc_id", _SPLIT_WEIGHTS)} AS split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1, 2
"""

ORACLE["ds2_stratified_sample"] = f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN {hash_sample_sql("doc_id", "(CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END)", salt=7)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# decontamination + mixture sampling
# ---------------------------------------------------------------------------

def _shingles_n_sql(n: int) -> str:
    join_expr = " || ' ' || ".join(f"tokens[i+{j}]" for j in range(n))
    return f"""
      SELECT doc_id,
             unnest(list_transform(range(1, len(tokens) - {n - 2}),
                    i -> {join_expr})) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
      WHERE len(tokens) >= {n}
    """


@register(
    "dd8_decontaminate",
    f"""
    WITH sh AS ({_shingles_n_sql(5)}),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
    hits AS (SELECT t.doc_id, count(DISTINCT t.shingle) AS n_hit_grams
             FROM sh t JOIN bench b USING (shingle)
             WHERE t.doc_id % 20 != 0 GROUP BY t.doc_id)
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_train,
           CAST(count(h.n_hit_grams) AS BIGINT) AS n_contaminated,
           CAST(coalesce(sum(h.n_hit_grams), 0) AS BIGINT) AS hit_grams
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 20 != 0
    GROUP BY d.lang
    """,
)
def dd8_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 20 == 0 stand in
    for the eval suite; training docs sharing any word 5-gram with it
    are flagged. Spark broadcasts the (tiny) benchmark n-gram set so the
    corpus-side shingle stream never shuffles."""
    from lakerunner_spark.dataops.dedup import ngram_decontaminate

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    train = d.filter(F.col("doc_id") % 20 != 0)
    hits = ngram_decontaminate(train, bench, "text", "doc_id", n=5)
    return train.join(hits, "doc_id", "left").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.count("n_hit_grams").alias("n_contaminated"),
        F.coalesce(F.sum("n_hit_grams"), F.lit(0)).alias("hit_grams"),
    )


_MIX_BUDGET = 2000.0  # target tokens per source


@register("ds4_domain_mixture", None)
def ds4_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling to a per-source token budget: compute
    each source's total tokens, derive keep rate = min(1, budget/total),
    apply the deterministic hash sample. One small agg + a broadcast
    join of the 20-row rate table — the corpus pass is shuffle-free."""
    from lakerunner_spark.dataops.sampling import hash_sample
    from lakerunner_spark.dataops.text import token_count
    from lakerunner_spark.functions.rounding import portable_round

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    rates = (
        tok.groupBy("source")
        .agg(F.sum("n_tokens").alias("tot_tokens"))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0), portable_round(F.lit(_MIX_BUDGET) / F.col("tot_tokens"), 6)
            ),
        )
    )
    j = tok.join(F.broadcast(rates), "source")
    kept = hash_sample(F.col("doc_id"), F.col("rate"), salt=11)
    return j.groupBy("source", "tot_tokens", "rate").agg(
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias("kept_tokens"),
    )


from lakerunner_spark.functions.rounding import compile_pround as _compile_pround

_MIX_KEEP = hash_sample_sql("t.doc_id", "r.rate", salt=11)

ORACLE["ds4_domain_mixture"] = _compile_pround(f"""
    WITH tok AS (SELECT doc_id, source,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
    rates AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                     least(CAST(1.0 AS DOUBLE),
                           pround({_MIX_BUDGET} / CAST(sum(n_tokens) AS BIGINT), 6)) AS rate
              FROM tok GROUP BY source)
    SELECT t.source, r.tot_tokens, r.rate,
           CAST(sum(CASE WHEN {_MIX_KEEP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN {_MIX_KEEP} THEN t.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM tok t JOIN rates r USING (source)
    GROUP BY t.source, r.tot_tokens, r.rate
""")


@register(
    "txt5_repetition_filter",
    """
    WITH r AS (
      SELECT lang,
             CASE WHEN len(toks) < 3 THEN CAST(0.0 AS DOUBLE)
                  ELSE 1.0 - len(list_distinct(
                         list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                       / CAST(len(toks) - 2 AS DOUBLE) END AS dup_ratio
      FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dup_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           pround(avg(dup_ratio), 6) AS avg_dup_ratio
    FROM r GROUP BY lang
    """,
)
def txt5_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-language count of documents
    whose duplicate word-3-gram fraction exceeds 0.2, plus the average
    fraction. The ratio is a pure higher-order array expression (no
    explode, no shuffle) — see dataops/text.py dup_ngram_ratio."""
    from lakerunner_spark.dataops.text import dup_ngram_ratio
    from lakerunner_spark.functions.rounding import portable_round as _pr

    d = load_table(spark, sf_dir, "documents")
    r = d.select("lang", dup_ngram_ratio("text", n=3).alias("dup_ratio"))
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("dup_ratio") > 0.2, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        _pr(F.avg("dup_ratio"), 6).alias("avg_dup_ratio"),
    )


_CHUNK = 16

@register(
    "dd9_chunk_dedup",
    f"""
    WITH ch AS (
      SELECT doc_id, source,
             unnest(list_transform(range(0, (len(t) - 1) // {_CHUNK} + 1),
               i -> md5(array_to_string(list_slice(t, i*{_CHUNK} + 1, i*{_CHUNK} + {_CHUNK}), ' '))))
             AS chunk_hash
      FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 1
    ),
    occ AS (SELECT chunk_hash, count(DISTINCT doc_id) AS nd
            FROM ch GROUP BY chunk_hash),
    per_doc AS (
      SELECT c.doc_id, any_value(c.source) AS source,
             count(*) AS n_chunks,
             sum(CASE WHEN o.nd > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM ch c JOIN occ o USING (chunk_hash) GROUP BY c.doc_id
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
           CAST(sum(n_dup) AS BIGINT) AS dup_chunks,
           pround(avg(n_dup * 1.0 / n_chunks), 6) AS avg_dup_ratio
    FROM per_doc GROUP BY source
    """,
)
def dd9_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity dedup (exact-substring approximation): per-source
    duplicate-chunk stats over fixed 16-token chunks. Catches the
    partial-overlap case document-level exact dedup misses — see
    dataops/dedup.py chunk_dup_ratio for the two-shuffle plan."""
    from lakerunner_spark.dataops.dedup import chunk_dup_ratio
    from lakerunner_spark.functions.rounding import portable_round as _pr

    d = load_table(spark, sf_dir, "documents")
    ratios = chunk_dup_ratio(d, "text", "doc_id", chunk_tokens=_CHUNK)
    j = ratios.join(d.select("doc_id", "source"), "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chunks").alias("total_chunks"),
        F.sum("n_dup_chunks").alias("dup_chunks"),
        _pr(F.avg(F.col("n_dup_chunks") / F.col("n_chunks")), 6).alias(
            "avg_dup_ratio"
        ),
    )


# PII regexes inline in the oracle: the exact PII_PATTERNS strings
# (Java-regex/RE2 common subset, so both engines match identically).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
_PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PII_PHONE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?"


@register(
    "txt6_pii_scrub",
    f"""
    WITH inj AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com at 10.0.'
                  || (doc_id % 256) || '.7 or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(txt, '{_PII_IPV4}')) AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(txt, '{_PII_PHONE}')) AS INT) AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(txt,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
    FROM inj
    """,
)
def txt6_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask emails/IPv4s/phones with typed placeholders.
    Deterministic PII is injected per doc (the synthetic corpus has
    none) and the scrubbed strings are compared byte-for-byte against
    the DuckDB oracle — both engines run the identical regex subset.
    Chained regexp_replace, whole-stage codegen, no UDF."""
    from lakerunner_spark.dataops.text import pii_counts, pii_scrub

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    txt = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = d.select("doc_id", txt.alias("_txt"))
    counts = pii_counts(F.col("_txt"))
    return d.select(
        "doc_id",
        counts["email"].cast("int").alias("n_email"),
        counts["ipv4"].cast("int").alias("n_ipv4"),
        counts["phone"].cast("int").alias("n_phone"),
        pii_scrub(F.col("_txt")).alias("scrubbed"),
    )


@register(
    "txt7_quality_pipeline",
    """
    WITH sig AS (
      SELECT source, string_split(text, ' ') AS toks, text FROM documents
    ),
    scored AS (
      SELECT source,
             len(toks) AS n_tok,
             len(list_filter(toks,
                 t -> t IN ('the', 'a', 'of', 'and', 'to'))) * 1.0 / len(toks)
               AS stop_ratio,
             len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_ratio,
             CASE WHEN len(toks) < 3 THEN 0.0
                  ELSE 1.0 - len(list_distinct(list_transform(
                         range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                       / CAST(len(toks) - 2 AS DOUBLE) END AS dup_ratio
      FROM sig
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_tok >= 10 AND stop_ratio >= 0.02
                          AND uniq_ratio >= 0.3 AND dup_ratio <= 0.4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           pround(avg(stop_ratio), 6) AS avg_stop_ratio,
           pround(avg(uniq_ratio), 6) AS avg_uniq_ratio
    FROM scored GROUP BY source
    """,
)
def txt7_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed C4/Gopher-style cleaning pipeline: length gate + stopword
    ratio + unique-token ratio + repetition filter, per-source keep
    counts. One narrow pass over the corpus (all per-row array
    expressions, no UDF, no shuffle before the final tiny groupBy) —
    the shape a 100 TB pre-training filter run takes."""
    from lakerunner_spark.dataops.text import (
        dup_ngram_ratio,
        quality_components,
    )
    from lakerunner_spark.functions.rounding import portable_round as _pr

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    qc = quality_components(t)
    scored = d.select(
        "source",
        F.size(F.split(t, " ")).alias("n_tok"),
        qc["stopword_ratio"].alias("stop_ratio"),
        qc["uniq_token_ratio"].alias("uniq_ratio"),
        dup_ngram_ratio("text", n=3).alias("dup_ratio"),
    )
    keep = (
        (F.col("n_tok") >= 10)
        & (F.col("stop_ratio") >= 0.02)
        & (F.col("uniq_ratio") >= 0.3)
        & (F.col("dup_ratio") <= 0.4)
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
        _pr(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
        _pr(F.avg("uniq_ratio"), 6).alias("avg_uniq_ratio"),
    )


_DD10_TAU = 0.6

@register(
    "dd10_dedup_pipeline",
    f"""
    WITH RECURSIVE cand AS ({_CANDIDATES_SQL}),
    sets AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sets GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared
      FROM cand c
      JOIN sets a ON a.doc_id = c.doc_a
      JOIN sets b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE pround(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6)
            >= {_DD10_TAU}
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    walk(u, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e2.u, w.label FROM edges e2 JOIN walk w ON w.u = e2.v
    ),
    comp AS (SELECT u AS node, min(label) AS component FROM walk GROUP BY u),
    deleted AS (SELECT node FROM comp WHERE node != component)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN x.node IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_deleted,
           CAST(sum(CASE WHEN x.node IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM documents d LEFT JOIN deleted x ON x.node = d.doc_id
    GROUP BY d.source
    """,
)
def dd10_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup pipeline, the full production shape in
    one plan: shingles -> MinHash signatures -> LSH candidates -> exact
    Jaccard verify (tau=0.6) -> connected components -> delete list
    (cluster min survives) -> per-source kept/deleted counts.

    Scale: every stage is the bucketed/broadcast design already proven
    piecewise (dd2/dd3/dd7) — the corpus never self-joins all-pairs. The
    delete-list join is deliberately UNhinted: at web scale near-dup
    deletion runs 30-50% of the corpus, so the delete list is
    corpus-proportional — the exact table class ds8's rep join must not
    force-broadcast. AQE's runtime size check broadcasts it when it
    actually is small (plan-guarded in
    tests/test_plan_guards.py::test_dd10_no_forced_broadcast)."""
    from lakerunner_spark.dataops.graph import neardup_clusters

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures_narrow(d, "text", "doc_id", n=3, num_hashes=8)
    cand = lsh_candidates(sig, "doc_id", num_hashes=8, band_rows=2)
    verified = jaccard_verify_narrow(d, cand, "text", "doc_id", n=3).filter(
        F.col("jaccard") >= _DD10_TAU
    )
    clusters = neardup_clusters(verified, "doc_a", "doc_b")
    deleted = clusters.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    flagged = d.join(
        deleted.withColumn("_del", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("_del").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_deleted"),
        F.sum(F.when(F.col("_del").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


def _txt8_oracle() -> str:
    from lakerunner_spark.dataops.text import strip_html_sql

    html = (
        "'<html><!-- hdr --><body onload=\"x()\"><p>' || text || "
        "'</p><style>p{color:red}</style><script>var a=1;</script>"
        "&amp; &lt;tail&gt;</body></html>'"
    )
    stripped = strip_html_sql(html)
    return f"""
    SELECT doc_id, {stripped} AS clean
    FROM documents WHERE doc_id < 50
    """


@register("txt8_strip_html", _txt8_oracle())
def txt8_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping (dataops/text.strip_html): documents
    wrapped in deterministic markup (tags, comments, style/script
    blocks, entities) come back as clean text — the oracle runs the
    identical stage chain via the portable regex subset."""
    from lakerunner_spark.dataops.text import strip_html

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    html = F.concat(
        F.lit('<html><!-- hdr --><body onload="x()"><p>'),
        F.col("text"),
        F.lit('</p><style>p{color:red}</style><script>var a=1;</script>'
              "&amp; &lt;tail&gt;</body></html>"),
    )
    return d.select("doc_id", strip_html(html).alias("clean"))


@register(
    "dd11_substring_dedup",
    f"""
    WITH {_WINNOW_FPS_CTE.strip()},
    freq AS (
      SELECT fingerprint FROM fps GROUP BY fingerprint
      HAVING count(*) <= 50
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM fps a
    JOIN freq USING (fingerprint)
    JOIN fps b USING (fingerprint)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def dd11_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication detection (winnowing collisions —
    the scalable stand-in for suffix-array substring dedup, Lee et al.
    "Deduplicating Training Data Makes Language Models Better"):
    any run of >= k+w-1 shared tokens between two documents guarantees
    a shared winnowed fingerprint, so cross-doc fingerprint collisions
    ARE substring-duplication candidates. Pairs sharing >= 2
    fingerprints are reported with their collision counts.

    100 TB design: the join shuffles on fingerprint (~1/w of shingle
    volume); fingerprints appearing in > 50 documents are dropped
    first — boilerplate phrases otherwise create quadratic hot-key
    pair blowup, exactly like LSH hot buckets (same cap strategy as
    dedup.lsh_candidates). In production the capped fingerprint table
    IS persisted — it's the substring-dedup analogue of the trigram
    pruning index — and on a real cluster
    ``substring_dedup_pairs(checkpoint_dir=...)`` makes that
    materialization a reliable checkpoint surviving executor loss
    (same contract as dd7's connected_components)."""
    from lakerunner_spark.dataops.dedup import substring_dedup_pairs

    d = load_table(spark, sf_dir, "documents")
    return substring_dedup_pairs(
        d, "text", "doc_id", k=5, w=4, max_doc_freq=50, min_shared=2
    )


def _kmeans_cte(n_clusters: int = 8, iters: int = 3) -> str:
    """Unrolled Lloyd iterations as CTE stages — the same 9-dp-rounded
    trajectory kmeans_assign takes, so cluster assignments match
    exactly. Yields ``long`` (_id, pos, val) and the final assignment
    ``a{iters}`` (_id, cluster, dist); shared by the sim5 and dd12
    oracles."""
    head = f"""
    WITH long AS (
      SELECT vec_id AS _id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding) AS val
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS _sid,
             row_number() OVER (ORDER BY vec_id ASC) - 1 AS cluster
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id ASC
            LIMIT {n_clusters})
    ),
    c0 AS (
      SELECT cluster, pos, pround(val, 9) AS cval
      FROM long JOIN seeds ON long._id = seeds._sid
    )"""
    stages = []
    prev = "c0"
    for i in range(1, iters + 1):
        stages.append(f"""
    d{i} AS (
      SELECT _id, cluster,
             pround(sum((val - cval) * (val - cval)), 9) AS dist
      FROM long JOIN {prev} USING (pos)
      GROUP BY _id, cluster
    ),
    a{i} AS (
      SELECT _id, cluster, dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY _id ORDER BY dist ASC, cluster ASC) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    c{i} AS (
      SELECT cluster, pos, pround(avg(val), 9) AS cval
      FROM long JOIN (SELECT _id, cluster FROM a{i}) USING (_id)
      GROUP BY cluster, pos
    )""")
        prev = f"c{i}"
    return head + "," + ",".join(stages)


def _sim5_oracle() -> str:
    return f"""
    {_kmeans_cte(8, 3)}
    SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           pround(avg(dist), 6) AS avg_dist
    FROM a3 GROUP BY cluster
    """


@register("sim5_kmeans", _sim5_oracle())
def sim5_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means clustering over the embedding corpus
    (extension: the training operator IVF's docstring defers to —
    'production would k-means a sample'). Lloyd's iterations unroll
    into ONE declarative plan: per-dim long form, broadcast centroid
    joins, per-iteration 9-dp centroid rounding so the Spark and
    DuckDB trajectories are bit-identical (same pattern as the IVF
    argmax rounding). Output: cluster sizes + mean squared distance."""
    from lakerunner_spark.dataops.similarity import kmeans_assign
    from lakerunner_spark.functions.rounding import portable_round

    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_assign(emb, n_clusters=8, iters=3)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        portable_round(F.avg("dist"), 6).alias("avg_dist"),
    )


def _ds5_oracle() -> str:
    from lakerunner_spark.dataops.sampling import token_budget_cap_sql

    base = """
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(trim(text), ' '),
                  t -> t != '')) AS BIGINT) AS n_tokens
      FROM documents
    """
    capped = token_budget_cap_sql(base, "source", "n_tokens", 20000)
    return f"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
    FROM ({capped}) GROUP BY source
    """


@register("ds5_token_budget_cap", _ds5_oracle())
def ds5_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget capping (the pretraining-mixture
    downsampling step: cap every source at 20k tokens): docs kept in
    deterministic id-hash order until the exclusive running token sum
    reaches the budget — one window pass per source, no collect. The
    oracle replays the identical hash + window arithmetic."""
    from lakerunner_spark.dataops.sampling import token_budget_cap
    from lakerunner_spark.dataops.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    capped = token_budget_cap(d, "source", "n_tokens", 20000)
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    )


@register(
    "txt9_unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), t -> t != '')) AS tok
      FROM documents
    ),
    sample AS (SELECT * FROM toks WHERE doc_id % 7 = 0),
    counts AS (SELECT tok, count(*) AS cnt FROM sample GROUP BY tok),
    vocab AS (
      SELECT tok, cnt FROM counts
      ORDER BY cnt DESC, tok ASC LIMIT 500
    ),
    totals AS (SELECT count(*) AS _total FROM sample)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           pround(avg(-log2((coalesce(v.cnt, 0) + 1.0)
                            / (_total + 501.0))), 6) AS avg_neg_log2
    FROM toks t
    LEFT JOIN vocab v USING (tok)
    CROSS JOIN totals
    GROUP BY t.doc_id
    """,
)
def txt9_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (CCNet-style): mean -log2 p(token)
    per document under an add-one-smoothed top-500 vocabulary trained
    on a deterministic 1-in-7 doc slice (dataops/text.py
    unigram_logprob — vocabulary broadcast, one doc-keyed shuffle for
    the corpus pass). Extension beyond the reference (no LM scoring
    there); the oracle replicates the sample, vocabulary tiebreak, and
    smoothing formula term for term."""
    from lakerunner_spark.dataops.text import unigram_logprob

    d = load_table(spark, sf_dir, "documents")
    return unigram_logprob(d, "text", "doc_id", sample_mod=7, vocab_k=500)


# the txt9/txt12 unigram-LM scoring pipeline (sample-trained top-500
# vocabulary, add-one smoothing, 6-dp mean -log2 p per doc) joined with
# each doc's language — shared by the exact (txt12) and sketch (txt12s)
# tercile routes
_TXT12_SCORED_CTE = """
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), t -> t != '')) AS tok
      FROM documents
    ),
    sample AS (SELECT * FROM toks WHERE doc_id % 7 = 0),
    counts AS (SELECT tok, count(*) AS cnt FROM sample GROUP BY tok),
    vocab AS (
      SELECT tok, cnt FROM counts
      ORDER BY cnt DESC, tok ASC LIMIT 500
    ),
    totals AS (SELECT count(*) AS _total FROM sample),
    scores AS (
      SELECT t.doc_id,
             pround(avg(-log2((coalesce(v.cnt, 0) + 1.0)
                              / (_total + 501.0))), 6) AS score
      FROM toks t
      LEFT JOIN vocab v USING (tok)
      CROSS JOIN totals
      GROUP BY t.doc_id
    ),
    lng AS (
      SELECT d.lang, s.doc_id, s.score
      FROM scores s JOIN documents d USING (doc_id)
    )
"""


def _txt12_scored(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Spark twin of _TXT12_SCORED_CTE: (lang, doc_id, score) rows.
    ``docs`` overrides the documents relation (the NULL-planted gate
    variant txt12n passes its planted view)."""
    from lakerunner_spark.dataops.text import unigram_logprob

    d = docs if docs is not None else load_table(spark, sf_dir, "documents")
    scores = unigram_logprob(
        d, "text", "doc_id", sample_mod=7, vocab_k=500
    ).select("doc_id", F.col("avg_neg_log2").alias("score"))
    return scores.join(d.select("doc_id", "lang"), "doc_id")


@register(
    "txt12_ccnet_buckets",
    f"""
    WITH {_TXT12_SCORED_CTE.strip()},
    ranked AS (
      SELECT lang, doc_id, score,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY score ASC, doc_id ASC)
               AS pr
      FROM lng
    )
    SELECT lang,
           CASE WHEN pr <= {1 / 3!r} THEN 'head'
                WHEN pr <= {2 / 3!r} THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           pround(avg(score), 6) AS avg_score
    FROM ranked GROUP BY 1, 2
    """,
)
def txt12_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity-tercile selection step (Wenzek et al. 2020):
    per language, documents split into head/middle/tail by their
    language-model score tercile — LOW perplexity (here the txt9
    unigram-LM mean -log2 p proxy, same sample-trained vocabulary) is
    'head', the slice CCNet keeps. Rank is the exact percent_rank over
    (score, doc_id) — the deterministic tie order both engines share —
    compared against 1/3 and 2/3 as Python-literal doubles. Emits the
    per-(language, bucket) census with mean score.

    The bucketing is the exact route of dataops/sampling.py
    rank_buckets (``mode="window"``), the percent_rank this oracle
    replays rank for rank; the windowless registration is txt12s (the
    same operator's ``mode="sketch"`` route)."""
    from lakerunner_spark.dataops.sampling import rank_buckets
    from lakerunner_spark.functions.rounding import portable_round

    b = rank_buckets(
        _txt12_scored(spark, sf_dir),
        "score",
        "lang",
        [1 / 3, 2 / 3],
        ["head", "middle", "tail"],
        mode="window",
        tiebreak_col="doc_id",
    )
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        portable_round(F.avg("score"), 6).alias("avg_score"),
    )


def _txt12s_oracle() -> str:
    from lakerunner_spark.operators.ddsketch import ddsketch_quantiles_sql

    th = ddsketch_quantiles_sql(
        "SELECT * FROM lng",
        ["lang"],
        "score",
        [1 / 3, 2 / 3],
        out_cols=["t0", "t1"],
    )
    return f"""
    WITH {_TXT12_SCORED_CTE.strip()},
    th AS ({th}),
    b AS (
      SELECT l.lang,
             CASE WHEN l.score <= th.t0 THEN 'head'
                  WHEN l.score <= th.t1 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             l.score
      FROM lng l JOIN th ON l.lang IS NOT DISTINCT FROM th.lang
    )
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           pround(avg(score), 6) AS avg_score
    FROM b GROUP BY 1, 2
    """


@register("txt12s_ccnet_sketch_buckets", _txt12s_oracle())
def txt12s_ccnet_sketch_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB route of CCNet's perplexity terciles (txt12's
    windowless twin, the ds9->ds9s trade applied to bucketing): the
    per-language head/middle/tail boundaries come from TWO DDSketch
    quantile thresholds (q=1/3, 2/3) read from ONE cumulative walk of
    the per-language score sketch (operators/ddsketch.py
    ddsketch_quantiles), joined back unhinted — one row per language,
    AQE broadcasts it — so the corpus pass is a plain threshold
    comparison. NO per-language sort of corpus rows exists anywhere in
    the plan (plan-guarded: tests/test_plan_guards.py asserts no
    percent_rank and no unpartitioned Window): in a real crawl one
    language IS most of the corpus (CCNet's own setting), and txt12's
    per-language percent_rank window makes that a single-task global
    sort. Bucket membership near the two cutoffs differs from the
    exact route by the sketch's relative-error contract (the
    documented ds9s trade; equivalence property-tested); the oracle
    replays the identical bucket algebra, so the route itself is
    exact-verified. Both registrations bucket through
    dataops/sampling.py rank_buckets, each pinning its route."""
    return _txt12s_plan(_txt12_scored(spark, sf_dir))


def _txt12s_plan(j: DataFrame) -> DataFrame:
    """txt12s's sketch-tercile census over an arbitrary scored
    relation — shared with the NULL-planted gate variant (txt12n)."""
    from lakerunner_spark.dataops.sampling import rank_buckets
    from lakerunner_spark.functions.rounding import portable_round

    b = rank_buckets(
        j,
        "score",
        "lang",
        [1 / 3, 2 / 3],
        ["head", "middle", "tail"],
        mode="sketch",
    )
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        portable_round(F.avg("score"), 6).alias("avg_score"),
    )


def _dd12_oracle() -> str:
    """SemDeDup oracle: the shared unrolled-Lloyd CTE for the cluster
    assignment, then within-cluster pairwise cosine in long form and
    the lowest-keep-id pick per duplicate."""
    return f"""
    {_kmeans_cte(8, 3)},
    v AS (
      SELECT a.cluster, l._id, l.pos, CAST(l.val AS DOUBLE) AS val
      FROM long l JOIN a3 a USING (_id)
    ),
    nrm AS (SELECT _id, sqrt(sum(val * val)) AS nrm FROM v
            GROUP BY _id HAVING sqrt(sum(val * val)) > 0),
    p AS (
      SELECT x.cluster, x._id AS ida, y._id AS idb,
             sum(x.val * y.val) AS dot
      FROM v x JOIN v y
        ON x.cluster = y.cluster AND x.pos = y.pos AND x._id < y._id
      GROUP BY 1, 2, 3
    ),
    cpair AS (
      SELECT cluster, ida, idb,
             pround(dot / (na.nrm * nb.nrm), 4) AS cos
      FROM p JOIN nrm na ON na._id = ida JOIN nrm nb ON nb._id = idb
      WHERE pround(dot / (na.nrm * nb.nrm), 4) >= 0.3
    )
    SELECT cluster, keep_id, drop_id, cosine FROM (
      SELECT cluster, ida AS keep_id, idb AS drop_id, cos AS cosine,
             row_number() OVER (PARTITION BY cluster, idb
                                ORDER BY ida ASC) AS rn
      FROM cpair
    ) WHERE rn = 1
    """


_DD12S_EMB_LONG = """
      SELECT vec_id AS _id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding) AS val
      FROM embeddings
"""


def _dd12s_oracle(
    n_clusters: int = 8,
    coarse_cells: int = 3,
    sample_mod: int = 4,
    iters: int = 3,
    threshold: float = 0.3,
    long_cte: str = _DD12S_EMB_LONG,
) -> str:
    """Sampled SemDeDup oracle: Lloyd over the id%mod==0 train slice,
    fine-centroid -> coarse-cell map, two-level (coarse, then fine
    within the cell) full-corpus assignment — every distance
    pround(9)-ed before its argmin, ties to the lower cell/cluster —
    then the identical pair tail as _dd12_oracle. ``long_cte`` is the
    (_id, pos, val) source body — the embeddings table by default;
    ddm4 passes a closed-form image-feature generator, proving the
    route is modality-generic at the oracle level too."""
    head = f"""
    WITH long AS (
      {long_cte.strip()}
    ),
    tlong AS (SELECT * FROM long WHERE _id % {sample_mod} = 0),
    seeds AS (
      SELECT _id AS _sid,
             row_number() OVER (ORDER BY _id ASC) - 1 AS cluster
      FROM (SELECT DISTINCT _id FROM long
            WHERE _id % {sample_mod} = 0
            ORDER BY _id ASC LIMIT {n_clusters})
    ),
    c0 AS (
      SELECT cluster, pos, pround(val, 9) AS cval
      FROM tlong JOIN seeds ON tlong._id = seeds._sid
    )"""
    stages = []
    prev = "c0"
    for i in range(1, iters + 1):
        stages.append(f"""
    d{i} AS (
      SELECT _id, cluster,
             pround(sum((val - cval) * (val - cval)), 9) AS dist
      FROM tlong JOIN {prev} USING (pos)
      GROUP BY _id, cluster
    ),
    a{i} AS (
      SELECT _id, cluster, dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY _id ORDER BY dist ASC, cluster ASC) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    c{i} AS (
      SELECT cluster, pos, pround(avg(val), 9) AS cval
      FROM tlong JOIN (SELECT _id, cluster FROM a{i}) USING (_id)
      GROUP BY cluster, pos
    )""")
        prev = f"c{i}"
    return (
        head + "," + ",".join(stages) + f""",
    cseed AS (
      SELECT cluster AS cell, pos, cval AS scval FROM {prev}
      WHERE cluster < {coarse_cells}
    ),
    cd AS (
      SELECT f.cluster, s.cell,
             pround(sum((f.cval - s.scval) * (f.cval - s.scval)), 9)
               AS dist
      FROM {prev} f JOIN cseed s ON f.pos = s.pos
      GROUP BY 1, 2
    ),
    cmap AS (
      SELECT cluster, cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY cluster ORDER BY dist ASC, cell ASC) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    vd AS (
      SELECT l._id, s.cell,
             pround(sum((l.val - s.scval) * (l.val - s.scval)), 9)
               AS dist
      FROM long l JOIN cseed s ON l.pos = s.pos
      GROUP BY 1, 2
    ),
    vcell AS (
      SELECT _id, cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY _id ORDER BY dist ASC, cell ASC) AS rn
        FROM vd
      ) WHERE rn = 1
    ),
    finec AS (
      SELECT m.cell, f.cluster, f.pos, f.cval
      FROM {prev} f JOIN cmap m USING (cluster)
    ),
    fd AS (
      SELECT l._id, fc.cluster,
             pround(sum((l.val - fc.cval) * (l.val - fc.cval)), 9)
               AS dist
      FROM long l JOIN vcell vc USING (_id)
      JOIN finec fc ON fc.cell = vc.cell AND fc.pos = l.pos
      GROUP BY 1, 2
    ),
    av AS (
      SELECT _id, cluster FROM (
        SELECT *, row_number() OVER (
          PARTITION BY _id ORDER BY dist ASC, cluster ASC) AS rn
        FROM fd
      ) WHERE rn = 1
    ),
    v AS (
      SELECT a.cluster, l._id, l.pos, CAST(l.val AS DOUBLE) AS val
      FROM long l JOIN av a USING (_id)
    ),
    nrm AS (SELECT _id, sqrt(sum(val * val)) AS nrm FROM v
            GROUP BY _id HAVING sqrt(sum(val * val)) > 0),
    p AS (
      SELECT x.cluster, x._id AS ida, y._id AS idb,
             sum(x.val * y.val) AS dot
      FROM v x JOIN v y
        ON x.cluster = y.cluster AND x.pos = y.pos AND x._id < y._id
      GROUP BY 1, 2, 3
    ),
    cpair AS (
      SELECT cluster, ida, idb,
             pround(dot / (na.nrm * nb.nrm), 4) AS cos
      FROM p JOIN nrm na ON na._id = ida JOIN nrm nb ON nb._id = idb
      WHERE pround(dot / (na.nrm * nb.nrm), 4) >= {threshold}
    )
    SELECT cluster, keep_id, drop_id, cosine FROM (
      SELECT cluster, ida AS keep_id, idb AS drop_id, cos AS cosine,
             row_number() OVER (PARTITION BY cluster, idb
                                ORDER BY ida ASC) AS rn
      FROM cpair
    ) WHERE rn = 1
    """
    )


@register("dd12s_semantic_dedup_sampled", _dd12s_oracle())
def dd12s_semantic_dedup_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup's web-scale route (the shape the paper trains at):
    k-means trained on the id%4 sample, full corpus assigned through a
    two-level coarse->fine centroid index, then the exact within-
    cluster cosine pair stage shared with dd12. Exists because the
    flat route's Lloyd term is n*d*k per iteration and the contract
    grows k with n — quadratic in corpus size; MEASURED at sf10
    (200k vectors, contract k=800) the flat route exceeds 10 minutes
    while this one finishes the decade (bench sf10 section runs it
    with k=800, c=28, mod=127 — the stride must be COPRIME to
    make_sf1's replica id shift; see PLANS.md dd12s). The oracle
    replays sample training,
    both argmin levels, and the pair arithmetic term for term."""
    from lakerunner_spark.dataops.dedup import semantic_dedup_sampled

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_sampled(
        emb, n_clusters=8, coarse_cells=3, sample_mod=4, iters=3,
        threshold=0.3,
    )


@register("dd12_semantic_dedup", _dd12_oracle())
def dd12_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): k-means
    the embedding corpus (the sim5 unrolled-Lloyd plan), then compare
    pairs only WITHIN a cluster — clustering localizes the quadratic
    cosine scan to ~(n/k)^2 per cluster, the trick that makes
    embedding-level dedup feasible at web scale. Emits the canonical
    keep-first delete list: each duplicate with its lowest-id
    over-threshold neighbor. The oracle replays the identical Lloyd
    trajectory (shared CTE with sim5) and pair arithmetic."""
    from lakerunner_spark.dataops.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, n_clusters=8, iters=3, threshold=0.3
    )


@register(
    "ds6_chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), t -> t != '') AS tk
      FROM documents
    ),
    c AS (
      SELECT doc_id, i AS chunk_idx, tk[i*24+1 : i*24+32] AS ck
      FROM (SELECT * FROM toks WHERE len(tk) >= 1)
      CROSS JOIN unnest(range(0, CAST(ceil(greatest(len(tk) - 8, 1) / 24.0)
                                      AS BIGINT))) AS t(i)
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(ck) AS BIGINT) AS n_tokens,
           array_to_string(ck, ' ') AS chunk_text
    FROM c
    """,
)
def ds6_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, 8-token
    overlap) — the sequence-prep step between cleaning and packing:
    each chunk is a training-sequence candidate and the stride keeps
    cross-boundary context. Map-side only (token array built once,
    windows are slices, Generate explode — no shuffle); the oracle
    replays the identical start arithmetic and slicing."""
    from lakerunner_spark.dataops.sampling import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    out = chunk_documents(d, "text", "doc_id", chunk_tokens=32, overlap=8)
    return out.withColumn("chunk_idx", F.col("chunk_idx").cast("long"))


def _sim6_oracle() -> str:
    """Random-projection shortlist -> exact re-rank. The ±1 matrix is
    regenerated from the same md5 rule both engines share; every dot
    product is an index-ordered list_reduce so the doubles are
    bit-identical to Spark's zip_with/aggregate folds."""
    from lakerunner_spark.dataops.similarity import rp_sign_matrix

    mtx = rp_sign_matrix(64, 24, 0)
    mtx_sql = (
        "[" + ", ".join(
            "[" + ", ".join(f"{s}.0" for s in row) + "]" for row in mtx
        ) + "]"
    )
    return f"""
    WITH m AS (SELECT {mtx_sql} AS mtx),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    qp AS (
      SELECT vec_id, embedding,
             list_transform(range(1, 25),
                 j -> list_reduce(list_transform(range(1, 65),
                          i -> CAST(embedding[i] AS DOUBLE) * mtx[j][i]),
                      (a, b) -> a + b)) AS rp
      FROM q, m
    ),
    cp AS (
      SELECT vec_id, embedding,
             list_transform(range(1, 25),
                 j -> list_reduce(list_transform(range(1, 65),
                          i -> CAST(embedding[i] AS DOUBLE) * mtx[j][i]),
                      (a, b) -> a + b)) AS rp
      FROM c, m
    ),
    short AS (
      SELECT qid, cid, qe, ce FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               q.embedding AS qe, c.embedding AS ce,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY pround(
                   list_reduce(list_transform(range(1, 25),
                       i -> q.rp[i] * c.rp[i]), (a, b) -> a + b)
                   / (sqrt(list_reduce(list_transform(range(1, 25),
                        i -> q.rp[i] * q.rp[i]), (a, b) -> a + b))
                    * sqrt(list_reduce(list_transform(range(1, 25),
                        i -> c.rp[i] * c.rp[i]), (a, b) -> a + b))), 4
                 ) DESC, c.vec_id ASC) AS rn
        FROM qp q CROSS JOIN cp c
      ) WHERE rn <= 64
    )
    SELECT qid, cid, cosine FROM (
      SELECT qid, cid,
             pround(
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(qe[i] AS DOUBLE) * ce[i]), (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(qe[i] AS DOUBLE) * qe[i]), (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(ce[i] AS DOUBLE) * ce[i]), (a, b) -> a + b))),
               4) AS cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY pround(
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(qe[i] AS DOUBLE) * ce[i]), (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(qe[i] AS DOUBLE) * qe[i]), (a, b) -> a + b))
                * sqrt(list_reduce(list_transform(range(1, 65),
                    i -> CAST(ce[i] AS DOUBLE) * ce[i]), (a, b) -> a + b))),
               4) DESC, cid ASC) AS rn
      FROM short
    ) WHERE rn <= 5
    """


@register("sim6_random_projection", _sim6_oracle())
def sim6_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via signed random projection (Achlioptas/JL): embeddings
    are projected 64 -> 24 dims with a deterministic ±1 matrix, the
    shortlist is ranked by 24-dim cosine (~2.7x less arithmetic and
    storage — at 100 TB the projected table is what stays
    memory-resident), and the top-64 survivors are re-ranked by exact
    64-dim cosine for the final top-5 (recall@5 0.8 on the corpus,
    test-asserted; the shortlist width is the recall/speed dial). Projection and every dot
    product are index-ordered folds, bit-identical across engines."""
    from lakerunner_spark.operators.skew import (
        VEC_ROWS_PER_PART,
        spread_small_scan,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # the 24 projection folds + pair cosines are corpus-scan-adjacent
    # (r12, guide §2.5); spread before attaching the projection
    return _sim6_topk(
        emb.filter(F.col("vec_id") < 3).select("vec_id", "embedding"),
        spread_small_scan(
            emb.filter(F.col("vec_id") >= 3).select("vec_id", "embedding"),
            rows_per_part=VEC_ROWS_PER_PART,
        ),
    )


def _sim6_topk(q_emb: DataFrame, c_emb: DataFrame) -> DataFrame:
    """sim6's JL-projection top-k over pre-filtered (vec_id, embedding)
    query/corpus frames — shared by the registered query and sim8's
    frontier, which feeds every member from ONE checkpointed corpus
    (r13)."""
    from pyspark.sql import Window

    from lakerunner_spark.dataops.similarity import random_projection
    from lakerunner_spark.functions.rounding import portable_round_finite

    proj = random_projection(64, 24, seed=0)
    q = q_emb.select("vec_id", "embedding", proj)
    c = c_emb.select("vec_id", "embedding", proj)

    def _cos(av, bv):
        dot = F.aggregate(
            F.zip_with(av, bv, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, b: a + b,
        )
        na = F.sqrt(F.aggregate(
            F.zip_with(av, av, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, b: a + b,
        ))
        nb = F.sqrt(F.aggregate(
            F.zip_with(bv, bv, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, b: a + b,
        ))
        # branchless: interpreted HOF cosine folds in portable_round's
        # NaN when-branch re-evaluate ~4x (the dd12 lesson); finite by
        # the similarity-module convention
        return portable_round_finite(dot / (na * nb), 4)

    pairs = F.broadcast(
        q.select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("rp").alias("qrp"),
        )
    ).crossJoin(
        c.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.col("rp").alias("crp"),
        )
    )
    short = (
        pairs.withColumn("rp_cos", _cos(F.col("qrp"), F.col("crp")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("rp_cos").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("rn") <= 64)
    )
    return (
        short.withColumn("cosine", _cos(F.col("qe"), F.col("ce")))
        .withColumn(
            "rn2",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("cosine").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("rn2") <= 5)
        .select("qid", "cid", "cosine")
    )


@register(
    "txt10_bm25",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(text),
                 '[^a-z0-9]+', ' ', 'g')), ' '), t -> t != '') AS tk
      FROM documents
    ),
    d AS (SELECT doc_id, len(tk) AS dl, tk FROM toks),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
    terms(term) AS (VALUES ('hash'), ('join'), ('spark'), ('window')),
    tf AS (
      SELECT d.doc_id, d.dl, t.term,
             len(list_filter(d.tk, x -> x = t.term)) AS tf
      FROM d CROSS JOIN terms t
    ),
    dfreq AS (
      SELECT term, sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df
      FROM tf GROUP BY term
    ),
    score AS (
      SELECT tf.doc_id,
             CAST(sum(CASE WHEN tf.tf > 0 THEN 1 ELSE 0 END) AS INT)
               AS n_matched,
             sum(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * tf.tf * 2.2
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)))
               AS score
      FROM tf JOIN dfreq f USING (term) CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_matched, pround(score, 6) AS score
    FROM score WHERE n_matched > 0
    ORDER BY pround(score, 6) DESC, doc_id ASC LIMIT 20
    """,
)
def txt10_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus (Robertson/Spärck Jones,
    Lucene idf smoothing) for a fixed 4-term query. Shuffle-free
    scoring: per-doc term frequencies are array expressions (no
    explode), corpus stats reduce to ONE broadcast row holding an idf
    map, ranking is a global top-20 (TakeOrderedAndProject). The
    oracle replays tokenizer, df counting, and the scoring formula
    term for term."""
    from lakerunner_spark.dataops.text import bm25_rank

    d = load_table(spark, sf_dir, "documents")
    return bm25_rank(
        d, ["hash", "join", "spark", "window"], "text", "doc_id", topk=20
    )


_DS8_WEIGHTS = [("train", 0.8), ("valid", 0.1), ("test", 0.1)]


def _ds8_oracle() -> str:
    from lakerunner_spark.dataops.sampling import hash_split_sql

    split = hash_split_sql("rep", _DS8_WEIGHTS)
    return f"""
    WITH RECURSIVE cand AS ({_CANDIDATES_SQL}),
    sets AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sets GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared
      FROM cand c
      JOIN sets a ON a.doc_id = c.doc_a
      JOIN sets b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE pround(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6)
            >= {_DD10_TAU}
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    walk(u, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e2.u, w.label FROM edges e2 JOIN walk w ON w.u = e2.v
    ),
    comp AS (SELECT u AS node, min(label) AS component FROM walk GROUP BY u),
    rep AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT {split} AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters
    FROM rep GROUP BY 1
    """


@register("ds8_leakage_free_split", _ds8_oracle())
def ds8_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/valid/test split: near-duplicate documents
    must land in the SAME split, or the held-out sets are contaminated
    by training look-alikes (the dedup-then-split ordering bug the
    pipeline exists to prevent). Every doc is assigned its near-dup
    cluster representative (component min; singletons represent
    themselves) and the split hash is taken on the REPRESENTATIVE —
    cluster cohesion is by construction, not by post-hoc repair.

    Scale: the pair/cluster machinery is the proven dd2/dd3/dd7
    bucketed design. The rep table is one row per CLUSTERED document —
    at web scale near-dup clusters cover 30-50% of the corpus, so rep
    is corpus-proportional and must NOT be force-broadcast (the hint
    would bypass Spark's size checks and OOM the driver). The
    rep-attach join runs unhinted on the scan's own doc_id key: a
    co-partitioned shuffle join is the 100 TB plan, and AQE's runtime
    size check — not a compile-time hint — still converts it to a
    broadcast when rep actually is small (plan-guarded in
    tests/test_plan_guards.py::test_ds8_no_forced_broadcast)."""
    from lakerunner_spark.dataops.graph import neardup_clusters
    from lakerunner_spark.dataops.sampling import hash_split

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures_narrow(d, "text", "doc_id", n=3, num_hashes=8)
    cand = lsh_candidates(sig, "doc_id", num_hashes=8, band_rows=2)
    verified = jaccard_verify_narrow(d, cand, "text", "doc_id", n=3).filter(
        F.col("jaccard") >= _DD10_TAU
    )
    clusters = neardup_clusters(verified, "doc_a", "doc_b")
    rep = clusters.select(F.col("node").alias("doc_id"), "component")
    dd = d.join(rep, "doc_id", "left").withColumn(
        "rep", F.coalesce("component", "doc_id")
    )
    return (
        dd.withColumn("split", hash_split(F.col("rep"), _DS8_WEIGHTS))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
    )


@register(
    "dd13_substring_decontaminate",
    f"""
    WITH {_WINNOW_FPS_CTE.strip()},
    bench AS (
      SELECT DISTINCT fingerprint FROM fps WHERE doc_id % 97 = 0
    ),
    corpus AS (SELECT * FROM fps WHERE doc_id % 97 != 0)
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM corpus c JOIN bench b USING (fingerprint)
    GROUP BY c.doc_id
    HAVING count(*) >= 2
    """,
)
def dd13_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level benchmark decontamination (Lee et al.: exact
    substring overlap, not whole-doc similarity, is what leaks
    benchmarks into training sets): corpus documents sharing >= 2
    winnowed fingerprints with any benchmark document are flagged —
    any shared run of >= k+w-1 tokens guarantees a shared fingerprint,
    so this catches quoted passages dd8's whole-doc n-gram set
    misses. The benchmark suite is a deterministic hash slice
    (doc_id % 97 = 0) standing in for the held-out eval set.

    100 TB design: the benchmark fingerprint set is tiny and
    BROADCAST; the corpus-side fingerprint pass is the same winnowing
    scan dd11 makes (in production the persisted fingerprint table is
    reused) and never shuffles — flagging is a map-side broadcast join
    + one groupBy on the already-partitioned doc key."""
    from lakerunner_spark.dataops.text import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, "text", "doc_id", k=5, w=4)
    bench = (
        fps.filter(F.col("doc_id") % 97 == 0)
        .select("fingerprint")
        .distinct()
    )
    corpus = fps.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "fingerprint")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= 2)
    )


@register(
    "ds9_quality_percentile_filter",
    """
    WITH scored AS (
      SELECT doc_id, source,
             pround(
               least(1.0, len(list_filter(string_split(trim(text), ' '),
                                          t -> t != '')) / 50.0) * 0.5
               + least(1.0, length(text) / 300.0) * 0.5, 9) AS score
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, score,
             percent_rank() OVER (PARTITION BY source ORDER BY score)
               AS pct
      FROM scored
    )
    SELECT doc_id, source, score, pround(pct, 6) AS pct
    FROM ranked WHERE pct >= 0.7
    """,
)
def ds9_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality filtering (the DataComp/DCLM shape:
    keep the top p% of each source by quality score, so thresholds
    adapt per source instead of one global cutoff): docs at or above
    the 70th percent_rank of their source survive. Ties share a rank
    in both engines (percent_rank is rank-based), so no id tiebreak
    is needed for parity.

    This is the EXACT route of dataops/sampling.py's
    ``percentile_filter`` operator, ``mode="window"``, the only route
    that has the rank the output reports (``pct``). The shuffle-free
    100 TB route — per-source DDSketch thresholds broadcast back, no
    per-source sort of corpus rows anywhere — is the SAME operator's
    ``mode="sketch"`` path, registered as ds9s_quality_sketch_filter."""
    from lakerunner_spark.dataops.sampling import percentile_filter
    from lakerunner_spark.dataops.text import quality_score
    from lakerunner_spark.functions.rounding import portable_round

    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = F.size(F.expr("filter(split(trim(text), ' '), x -> x != '')"))
    scored = d.select(
        "doc_id",
        "source",
        portable_round(quality_score(n_tok, F.length(t)), 9).alias("score"),
    )
    kept = percentile_filter(
        scored, "score", "source", 0.7, mode="window", keep_pct="pct"
    )
    return kept.select(
        "doc_id", "source", "score", portable_round(F.col("pct"), 6).alias("pct")
    )


_DS9_SCORED_SQL = """
      SELECT doc_id, source,
             pround(
               least(1.0, len(list_filter(string_split(trim(text), ' '),
                                          t -> t != '')) / 50.0) * 0.5
               + least(1.0, length(text) / 300.0) * 0.5, 9) AS score
      FROM documents
"""


def _ds9s_oracle() -> str:
    from lakerunner_spark.operators.ddsketch import ddsketch_quantile_sql

    th = ddsketch_quantile_sql(
        "SELECT * FROM scored",
        ["source"],
        "score",
        0.7,
        out_col="threshold",
    )
    return f"""
    WITH scored AS ({_DS9_SCORED_SQL}),
    th AS ({th})
    SELECT s.doc_id, s.source, s.score
    FROM scored s JOIN th ON s.source IS NOT DISTINCT FROM th.source
    WHERE s.score >= th.threshold
    """
    # the join mirrors the engine's null-safe group attach
    # (sampling._nullsafe_attach): a NULL group key is a group, not a
    # dropped row. Remaining precondition: scores themselves are
    # non-NULL (documents.text is), per the rank_buckets NULL-score
    # scope note in sampling.py.


@register("ds9s_quality_sketch_filter", _ds9s_oracle())
def ds9s_quality_sketch_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB route of per-source percentile quality filtering
    (ds9's windowless twin): per-source score thresholds come from the
    engine's DDSketch bucket algebra — groupBy-count sketch build,
    cumulative-walk quantile (the x1/pqs18 machinery) — and are joined
    back (one row per source; AQE broadcasts it) so the corpus pass is
    a plain filter. NO per-source sort of corpus rows exists anywhere
    in the plan: the only window runs over (source x occupied-bucket)
    sketch rows, a few hundred per source regardless of corpus size —
    that is what removes ds9's one-task-per-source straggler when one
    source is most of the data. Kept membership differs from the exact
    rank route near the cutoff by the sketch's relative-error contract
    (the documented trade); the oracle replays the identical bucket
    math, so the route itself is exact-verified."""
    return _ds9s_plan(load_table(spark, sf_dir, "documents"))


def _ds9s_plan(d: DataFrame) -> DataFrame:
    """ds9s's sketch-threshold filter over an arbitrary documents
    relation — shared with the NULL-planted gate variant (ds9n)."""
    from lakerunner_spark.dataops.sampling import percentile_filter
    from lakerunner_spark.dataops.text import quality_score
    from lakerunner_spark.functions.rounding import portable_round

    t = F.col("text")
    n_tok = F.size(F.expr("filter(split(trim(text), ' '), x -> x != '')"))
    scored = d.select(
        "doc_id",
        "source",
        portable_round(quality_score(n_tok, F.length(t)), 9).alias("score"),
    )
    return percentile_filter(scored, "score", "source", 0.7, mode="sketch")


@register(
    "dd11v_substring_verify",
    f"""
    WITH {_WINNOW_FPS_CTE.strip()},
    freq AS (
      SELECT fingerprint FROM fps GROUP BY fingerprint
      HAVING count(*) <= 50
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fps a
      JOIN freq USING (fingerprint)
      JOIN fps b USING (fingerprint)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+4], ' ') AS gram
      FROM toks CROSS JOIN unnest(generate_series(1, len(tk) - 4)) AS t(i)
      WHERE len(tk) >= 5
    ),
    m AS (
      SELECT c.doc_a, c.doc_b, ga.pos AS i, gb.pos AS j
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
    ),
    isl AS (
      SELECT doc_a, doc_b, i - j AS diag, i,
             i - row_number() OVER (PARTITION BY doc_a, doc_b, i - j
                                    ORDER BY i) AS island
      FROM m
    ),
    runs AS (
      SELECT doc_a, doc_b, count(*) AS glen
      FROM isl GROUP BY doc_a, doc_b, diag, island
    )
    SELECT doc_a, doc_b, CAST(4 + max(glen) AS BIGINT) AS longest_run
    FROM runs GROUP BY 1, 2
    """,
)
def dd11v_substring_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd11's exact-verification pass (Lee et al. fidelity): winnowing
    flags candidate pairs; this stitches their literally-matching
    k-token grams into diagonal runs and reports each pair's TRUE
    longest shared token run — hash-collision candidates share no gram
    and drop out, so delete lists built from ``longest_run``
    thresholds carry zero winnowing false positives. The verified pair
    set is a subset of dd11's by construction (the oracle recomputes
    candidates AND run lengths independently, run arithmetic included).
    Same candidates->verify shape as dd2->dd3."""
    from lakerunner_spark.dataops.dedup import (
        substring_dedup_pairs,
        substring_verify_runs,
    )

    d = load_table(spark, sf_dir, "documents")
    cand = substring_dedup_pairs(
        d, "text", "doc_id", k=5, w=4, max_doc_freq=50, min_shared=2
    ).select("doc_a", "doc_b")
    return substring_verify_runs(d, cand, "text", "doc_id", k=5)


_DD16_MIN_RUN = 20  # tokens; Lee et al. use 50 BPE tokens at web scale


@register(
    "dd16_substring_remove",
    f"""
    WITH {_WINNOW_FPS_CTE.strip()},
    freq AS (
      SELECT fingerprint FROM fps GROUP BY fingerprint
      HAVING count(*) <= 50
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fps a
      JOIN freq USING (fingerprint)
      JOIN fps b USING (fingerprint)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+4], ' ') AS gram
      FROM toks CROSS JOIN unnest(generate_series(1, len(tk) - 4)) AS t(i)
      WHERE len(tk) >= 5
    ),
    m AS (
      SELECT c.doc_a, c.doc_b, ga.pos AS i, gb.pos AS j
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
    ),
    isl AS (
      SELECT doc_a, doc_b, i - j AS diag, i, j,
             i - row_number() OVER (PARTITION BY doc_a, doc_b, i - j
                                    ORDER BY i) AS island
      FROM m
    ),
    spans AS (
      SELECT doc_b AS doc_id, min(j) AS start_,
             min(j) + count(*) + 4 AS end_
      FROM isl GROUP BY doc_a, doc_b, diag, island
      HAVING count(*) + 4 >= {_DD16_MIN_RUN}
    ),
    flg AS (
      SELECT doc_id, start_, end_,
             CASE WHEN start_ > coalesce(max(end_) OVER (
                    PARTITION BY doc_id ORDER BY start_, end_
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)
                  THEN 1 ELSE 0 END AS newg
      FROM spans
    ),
    mg AS (
      SELECT doc_id, min(start_) AS start_, max(end_) AS end_
      FROM (SELECT *, sum(newg) OVER (PARTITION BY doc_id
              ORDER BY start_, end_ ROWS UNBOUNDED PRECEDING) AS isl2
            FROM flg)
      GROUP BY doc_id, isl2
    ),
    affected AS (SELECT DISTINCT doc_id FROM mg),
    tokidx AS (
      SELECT t.doc_id, unnest(tk) AS tok,
             generate_subscripts(tk, 1) AS idx
      FROM toks t JOIN affected USING (doc_id)
    ),
    keptt AS (
      SELECT ti.doc_id, ti.tok, ti.idx
      FROM tokidx ti LEFT JOIN mg
        ON mg.doc_id = ti.doc_id
       AND ti.idx >= mg.start_ AND ti.idx < mg.end_
      WHERE mg.start_ IS NULL
    )
    SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - count(k.idx) AS BIGINT) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.idx), '')
             AS clean_text
    FROM toks t JOIN affected USING (doc_id)
    LEFT JOIN keptt k ON k.doc_id = t.doc_id
    GROUP BY t.doc_id, t.tk
    """,
)
def dd16_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FINAL step of the Lee et al. exact-substring dedup pipeline
    (dd11 finds winnowing candidates, dd11v verifies true runs, THIS
    cuts them out): every verified shared run of >= 20 tokens becomes
    a token interval in the HIGHER-id doc of its pair (keep-first),
    overlapping intervals from different pairs union per document,
    and affected documents are rebuilt from the uncovered tokens —
    span-level removal, not whole-document deletion, which is the
    paper's point (most duplication is partial). Emits (doc_id,
    n_tokens, n_removed, clean_text) for affected docs. The oracle
    replays candidates, gram runs, interval union, and the rebuild
    token for token."""
    from lakerunner_spark.dataops.dedup import (
        remove_duplicate_spans,
        substring_dedup_pairs,
        substring_duplicate_spans,
    )

    d = load_table(spark, sf_dir, "documents")
    cand = substring_dedup_pairs(
        d, "text", "doc_id", k=5, w=4, max_doc_freq=50, min_shared=2
    ).select("doc_a", "doc_b")
    spans = substring_duplicate_spans(
        d, cand, "text", "doc_id", k=5, min_run=_DD16_MIN_RUN
    )
    return remove_duplicate_spans(d, spans, "text", "doc_id")


_DD17_BENCH_MOD = 31  # deterministic hash slice standing in for the eval set


@register(
    "dd17_decontaminate_spans",
    f"""
    WITH {_WINNOW_FPS_CTE.strip()},
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fps a
      JOIN fps b USING (fingerprint)
      WHERE a.doc_id % {_DD17_BENCH_MOD} = 0
        AND b.doc_id % {_DD17_BENCH_MOD} != 0
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+4], ' ') AS gram
      FROM toks CROSS JOIN unnest(generate_series(1, len(tk) - 4)) AS t(i)
      WHERE len(tk) >= 5
    ),
    m AS (
      SELECT c.doc_a, c.doc_b, ga.pos AS i, gb.pos AS j
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
    ),
    isl AS (
      SELECT doc_a, doc_b, i - j AS diag, i, j,
             i - row_number() OVER (PARTITION BY doc_a, doc_b, i - j
                                    ORDER BY i) AS island
      FROM m
    ),
    spans AS (
      SELECT doc_b AS doc_id, min(j) AS start_,
             min(j) + count(*) + 4 AS end_
      FROM isl GROUP BY doc_a, doc_b, diag, island
      HAVING count(*) + 4 >= {_DD16_MIN_RUN}
    ),
    flg AS (
      SELECT doc_id, start_, end_,
             CASE WHEN start_ > coalesce(max(end_) OVER (
                    PARTITION BY doc_id ORDER BY start_, end_
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)
                  THEN 1 ELSE 0 END AS newg
      FROM spans
    ),
    mg AS (
      SELECT doc_id, min(start_) AS start_, max(end_) AS end_
      FROM (SELECT *, sum(newg) OVER (PARTITION BY doc_id
              ORDER BY start_, end_ ROWS UNBOUNDED PRECEDING) AS isl2
            FROM flg)
      GROUP BY doc_id, isl2
    ),
    affected AS (SELECT DISTINCT doc_id FROM mg),
    tokidx AS (
      SELECT t.doc_id, unnest(tk) AS tok,
             generate_subscripts(tk, 1) AS idx
      FROM toks t JOIN affected USING (doc_id)
    ),
    keptt AS (
      SELECT ti.doc_id, ti.tok, ti.idx
      FROM tokidx ti LEFT JOIN mg
        ON mg.doc_id = ti.doc_id
       AND ti.idx >= mg.start_ AND ti.idx < mg.end_
      WHERE mg.start_ IS NULL
    )
    SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - count(k.idx) AS BIGINT) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.idx), '')
             AS clean_text
    FROM toks t JOIN affected USING (doc_id)
    LEFT JOIN keptt k ON k.doc_id = t.doc_id
    GROUP BY t.doc_id, t.tk
    """,
)
def dd17_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination (dd13 x dd16: what
    practitioners actually ship — dd13 drops whole contaminated docs,
    over-deleting when a long document merely quotes one benchmark
    passage; this cuts just the contaminated span, the Lee et al.
    removal machinery with the benchmark suite as the kept side).
    Candidate (bench, corpus) pairs share >= 2 winnowed fingerprints
    (any >= k+w-1-token shared run guarantees one); every VERIFIED
    shared run of >= 20 tokens (literal gram match — hash collisions
    cannot produce a span) becomes a token interval in the CORPUS doc,
    intervals union per doc, and affected corpus docs are rebuilt from
    the uncovered tokens. Benchmark slice: doc_id % 31 = 0. Emits
    (doc_id, n_tokens, n_removed, clean_text) for affected corpus
    docs; the oracle replays candidates, gram runs, interval union,
    and the rebuild token for token.

    100 TB design: the benchmark fingerprint side is tiny and
    BROADCAST (the dd13 shape), so candidate flagging never shuffles
    the corpus; grams are then materialized ONLY for flagged docs and
    the benchmark docs (the dd11v left-semi prune inside
    _gram_run_islands); every window is (pair, diagonal)- or
    doc-bounded."""
    from lakerunner_spark.dataops.dedup import (
        remove_duplicate_spans,
        substring_duplicate_spans,
    )
    from lakerunner_spark.dataops.text import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, "text", "doc_id", k=5, w=4)
    bench = fps.filter(F.col("doc_id") % _DD17_BENCH_MOD == 0).select(
        F.col("doc_id").alias("doc_a"), "fingerprint"
    )
    corpus = fps.filter(F.col("doc_id") % _DD17_BENCH_MOD != 0)
    cand = (
        corpus.join(F.broadcast(bench), "fingerprint")
        .groupBy("doc_a", F.col("doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("doc_a", "doc_b")
    )
    spans = substring_duplicate_spans(
        d, cand, "text", "doc_id", k=5, min_run=_DD16_MIN_RUN
    )
    return remove_duplicate_spans(d, spans, "text", "doc_id")


@register(
    "dd18_substring_pipeline",
    f"""
    WITH {_WINNOW_FPS_CTE.strip()},
    freq AS (
      SELECT fingerprint FROM fps GROUP BY fingerprint
      HAVING count(*) <= 50
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fps a
      JOIN freq USING (fingerprint)
      JOIN fps b USING (fingerprint)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+4], ' ') AS gram
      FROM toks CROSS JOIN unnest(generate_series(1, len(tk) - 4)) AS t(i)
      WHERE len(tk) >= 5
    ),
    m AS (
      SELECT c.doc_a, c.doc_b, ga.pos AS i, gb.pos AS j
      FROM cand c
      JOIN g ga ON ga.doc_id = c.doc_a
      JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
    ),
    isl AS (
      SELECT doc_a, doc_b, i - j AS diag, i, j,
             i - row_number() OVER (PARTITION BY doc_a, doc_b, i - j
                                    ORDER BY i) AS island
      FROM m
    ),
    spans AS (
      SELECT doc_b AS doc_id, min(j) AS start_,
             min(j) + count(*) + 4 AS end_
      FROM isl GROUP BY doc_a, doc_b, diag, island
      HAVING count(*) + 4 >= {_DD16_MIN_RUN}
    ),
    flg AS (
      SELECT doc_id, start_, end_,
             CASE WHEN start_ > coalesce(max(end_) OVER (
                    PARTITION BY doc_id ORDER BY start_, end_
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)
                  THEN 1 ELSE 0 END AS newg
      FROM spans
    ),
    mg AS (
      SELECT doc_id, min(start_) AS start_, max(end_) AS end_
      FROM (SELECT *, sum(newg) OVER (PARTITION BY doc_id
              ORDER BY start_, end_ ROWS UNBOUNDED PRECEDING) AS isl2
            FROM flg)
      GROUP BY doc_id, isl2
    ),
    rem AS (
      SELECT doc_id, CAST(sum(end_ - start_) AS BIGINT) AS n_removed
      FROM mg GROUP BY doc_id
    ),
    base AS (
      SELECT d.source, CAST(len(t.tk) AS BIGINT) AS n_tokens,
             coalesce(r.n_removed, 0) AS n_removed
      FROM toks t
      JOIN documents d USING (doc_id)
      LEFT JOIN rem r ON r.doc_id = t.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_affected,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_before,
           CAST(sum(n_removed) AS BIGINT) AS tokens_removed,
           pround(100.0 * sum(n_removed) / sum(n_tokens), 6) AS removed_pct
    FROM base GROUP BY source
    """,
)
def dd18_substring_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. exact-substring dedup pipeline END TO END in one
    declarative plan (the txt13 composition pattern applied to the
    dedup plane — dd11 -> dd11v -> dd16 are its stages, this is the
    composition): winnowed-fingerprint candidate pairs (the persisted
    fingerprint table dd11 documents — substring_dedup_pairs
    materializes it once via checkpoint before the self-join) ->
    literal-gram verified duplicate runs (hash collisions cannot
    produce a span) -> >= 20-token spans cut from the higher-id doc of
    each pair (keep-first) -> the REBUILT corpus census: per source,
    how many documents, how many were affected, tokens before and
    removed, and the removed percentage. This is the number a training
    run actually consumes — "how much of my corpus was duplicated
    text" — and the oracle replays candidates, gram runs, interval
    union, and the census value for value.

    100 TB design: inherits each stage's contract — the fingerprint
    self-join shuffles capped (fingerprint, doc) rows; grams
    materialize only for candidate-pair docs (left-semi prune inside
    _gram_run_islands); every window is (pair, diagonal)- or
    doc-bounded; the final census left join attaches the vanishing
    affected-doc set to a map-side token count of the full corpus, so
    nothing corpus-quadratic exists at any stage. Reference analogue:
    the dedup-paper pipeline SURVEY cites; engine pieces at
    dedup.py:509,947,974."""
    from lakerunner_spark.dataops.dedup import (
        WINNOW_TOKENIZE,
        remove_duplicate_spans,
        substring_dedup_pairs,
        substring_duplicate_spans,
    )
    from lakerunner_spark.functions.rounding import portable_round

    d = load_table(spark, sf_dir, "documents")
    cand = substring_dedup_pairs(
        d, "text", "doc_id", k=5, w=4, max_doc_freq=50, min_shared=2
    ).select("doc_a", "doc_b")
    spans = substring_duplicate_spans(
        d, cand, "text", "doc_id", k=5, min_run=_DD16_MIN_RUN
    )
    removed = remove_duplicate_spans(d, spans, "text", "doc_id").select(
        "doc_id", "n_removed"
    )
    toks = F.expr(WINNOW_TOKENIZE.format(col="text"))
    base = d.select(
        "doc_id", "source", F.size(toks).cast("long").alias("n_tokens")
    )
    joined = base.join(removed, "doc_id", "left").withColumn(
        "n_removed", F.coalesce(F.col("n_removed"), F.lit(0))
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_removed") > 0).cast("long"))
        .cast("long")
        .alias("n_affected"),
        F.sum("n_tokens").cast("long").alias("tokens_before"),
        F.sum("n_removed").cast("long").alias("tokens_removed"),
        portable_round(
            F.lit(100.0) * F.sum("n_removed") / F.sum("n_tokens"), 6
        ).alias("removed_pct"),
    )


_DS10_BUDGET = 20000.0  # global token budget
_DS10_ALPHA = 0.5       # mixture temperature (alpha<1 upsamples tails)


@register(
    "ds10_temperature_mixture",
    f"""
    WITH tok AS (SELECT doc_id, source,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
    src AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
            FROM tok GROUP BY source),
    shares AS (
      SELECT source, tot_tokens,
             power(tot_tokens / (SELECT CAST(sum(tot_tokens) AS DOUBLE)
                                 FROM src), {_DS10_ALPHA}) AS pw
      FROM src
    ),
    rates AS (
      SELECT source, tot_tokens,
             least(CAST(1.0 AS DOUBLE),
                   pround({_DS10_BUDGET} * pw
                          / (SELECT sum(pw) FROM shares)
                          / tot_tokens, 6)) AS rate
      FROM shares
    )
    SELECT t.source, r.tot_tokens, r.rate,
           CAST(sum(CASE WHEN {hash_sample_sql("t.doc_id", "r.rate", salt=13)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN {hash_sample_sql("t.doc_id", "r.rate", salt=13)}
                    THEN t.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM tok t JOIN rates r USING (source)
    GROUP BY t.source, r.tot_tokens, r.rate
    """,
)
def ds10_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (the multinomial alpha-
    sampling shape used for multilingual/multi-domain pretraining
    mixes, alpha=0.5): target share per source is proportional to
    (source share)^alpha — tails upsampled relative to raw frequency —
    realized against a global token budget by per-source keep rates
    and the deterministic hash sample. Rates are 6-dp-rounded before
    sampling so the membership decision is engine-exact.

    Scale: two aggregations over the (sources)-row table derive the
    rate map; the corpus pass is the same broadcast-rate shuffle-free
    scan as ds4 — one scan, no corpus shuffle."""
    from lakerunner_spark.dataops.sampling import hash_sample
    from lakerunner_spark.dataops.text import token_count
    from lakerunner_spark.functions.rounding import portable_round

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    src = tok.groupBy("source").agg(F.sum("n_tokens").alias("tot_tokens"))
    gtot = src.agg(
        F.sum("tot_tokens").cast("double").alias("_gtot")
    )
    shares = src.crossJoin(F.broadcast(gtot)).select(
        "source",
        "tot_tokens",
        F.pow(F.col("tot_tokens") / F.col("_gtot"), _DS10_ALPHA).alias("pw"),
    )
    zsum = shares.agg(F.sum("pw").alias("_z"))
    rates = shares.crossJoin(F.broadcast(zsum)).select(
        "source",
        "tot_tokens",
        F.least(
            F.lit(1.0),
            portable_round(
                F.lit(_DS10_BUDGET) * F.col("pw") / F.col("_z")
                / F.col("tot_tokens"),
                6,
            ),
        ).alias("rate"),
    )
    j = tok.join(F.broadcast(rates), "source")
    kept = hash_sample(F.col("doc_id"), F.col("rate"), salt=13)
    return j.groupBy("source", "tot_tokens", "rate").agg(
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias(
            "kept_tokens"
        ),
    )


@register(
    "ds11_epoch_shuffle",
    f"""
    WITH h AS (
      SELECT 1 AS epoch, doc_id,
             {id_hash_sql("doc_id", salt=1)} AS shuffle_key
      FROM documents
      UNION ALL
      SELECT 2 AS epoch, doc_id,
             {id_hash_sql("doc_id", salt=2)} AS shuffle_key
      FROM documents
    ),
    r AS (
      SELECT epoch, doc_id, shuffle_key,
             row_number() OVER (PARTITION BY epoch
                                ORDER BY shuffle_key, doc_id) AS rn
      FROM h
    )
    SELECT epoch, doc_id, shuffle_key FROM r WHERE rn <= 20
    """,
)
def ds11_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle (the training-loader
    contract: every epoch visits the whole corpus in a different but
    REPRODUCIBLE order, with no RNG state and no coordination): the
    order key is the multiplicative id hash salted by epoch number, so
    any worker can compute any document's position independently. The
    registered query certifies the first 20 positions of two epochs
    (orders differ between epochs; both engines agree exactly).

    Scale: producing a shuffled EPOCH at 100 TB is repartitionByRange +
    sortWithinPartitions on shuffle_key — Spark's external range sort,
    the one shuffle the contract requires; this head-sample plan is
    TakeOrderedAndProject per epoch (map-side top-k + driver merge, no
    global sort, no one-task-per-epoch window)."""
    from lakerunner_spark.dataops.sampling import id_hash

    d = load_table(spark, sf_dir, "documents")
    parts = []
    for epoch in (1, 2):
        parts.append(
            d.select(
                F.lit(epoch).alias("epoch"),
                "doc_id",
                id_hash(F.col("doc_id"), salt=epoch).alias("shuffle_key"),
            )
            .orderBy(F.col("shuffle_key").asc(), F.col("doc_id").asc())
            .limit(20)
        )
    return parts[0].unionByName(parts[1])


def _txt11_oracle() -> str:
    from lakerunner_spark.dataops.text import paragraph_dedup_sql

    cleaned = paragraph_dedup_sql("ptext")
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(trim(text), ' '), t -> t != '') AS tk
      FROM documents
    ),
    fixture AS (
      SELECT doc_id, lang,
             array_to_string(tk[1:5], ' ') || chr(10) || chr(10)
             || array_to_string(tk[6:10], ' ') || chr(10) || chr(10)
             || array_to_string(tk[1:5], ' ') AS ptext
      FROM toks WHERE len(tk) >= 10
    ),
    d AS (
      SELECT doc_id, lang, ptext, {cleaned} AS cleaned
      FROM fixture
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN cleaned != ptext THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cleaned,
           CAST(sum(len(string_split(ptext, chr(10) || chr(10)))
                    - len(string_split(cleaned, chr(10) || chr(10))))
                AS BIGINT) AS paragraphs_removed,
           CAST(sum(length(cleaned)) AS BIGINT) AS cleaned_chars
    FROM d GROUP BY lang
    """


@register("txt11_paragraph_dedup", _txt11_oracle())
def txt11_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-paragraph removal (MassiveText/Gopher:
    crawl boilerplate repeats whole paragraphs INSIDE one document,
    which whole-doc and substring dedup both leave alone): paragraphs
    keep their first occurrence in order, later repeats drop. The
    fixture plants a repeated paragraph in every >=10-token document
    (p1 \\n\\n p2 \\n\\n p1); both engines must agree on every cleaned
    byte. Map-side array expressions only — zero shuffles before the
    per-language rollup."""
    from lakerunner_spark.dataops.text import paragraph_dedup

    d = load_table(spark, sf_dir, "documents")
    tk = F.expr("filter(split(trim(text), ' '), t -> t != '')")
    docs = d.select("doc_id", "lang", tk.alias("_tk")).filter(
        F.size("_tk") >= 10
    )
    p1 = F.concat_ws(" ", F.slice("_tk", 1, 5))
    p2 = F.concat_ws(" ", F.slice("_tk", 6, 5))
    sep = F.lit("\n\n")
    ptext = F.concat(p1, sep, p2, sep, p1)
    fx = docs.select("doc_id", "lang", ptext.alias("ptext"))
    cleaned = paragraph_dedup(F.col("ptext"))
    out = fx.select("lang", "ptext", cleaned.alias("cleaned"))
    n_paras = lambda c: F.size(F.split(c, "\n\n"))
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("cleaned") != F.col("ptext"), 1).otherwise(0)
        ).cast("long").alias("n_cleaned"),
        F.sum(n_paras(F.col("ptext")) - n_paras(F.col("cleaned")))
        .cast("long")
        .alias("paragraphs_removed"),
        F.sum(F.length("cleaned")).cast("long").alias("cleaned_chars"),
    )


# ---------------------------------------------------------------------------
# round 6 late additions: cross-corpus paragraph dedup, DSIR selection,
# deterministic weighted sampling
# ---------------------------------------------------------------------------


def _dd14_keyed(d: DataFrame) -> DataFrame:
    """dd14's shared paragraph scan: (doc_id, source, plen, h, pk) rows
    — fixed 8-token chunks, md5 hash, (doc_id, idx) packed into one
    integer occurrence key. Factored so the skew-measurement harness
    (tools/measure_skew.py) times the SHAPES downstream of the same
    scan rather than re-deriving it."""
    from lakerunner_spark.operators.skew import spread_small_scan

    tk = F.expr("filter(split(trim(text), ' '), t -> t != '')")
    docs = spread_small_scan(d.select("doc_id", "source", "text")).select(
        "doc_id", "source", tk.alias("_tk")
    ).filter(F.size("_tk") >= 1)
    paras = docs.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(_tk)/8.0) as int) - 1),"
                " i -> concat_ws(' ', slice(_tk, i*8+1, 8)))"
            )
        ).alias("idx", "para"),
    )
    return paras.select(
        "doc_id",
        "source",
        F.length("para").alias("plen"),
        F.md5("para").alias("h"),
        (F.col("doc_id") * 100000 + F.col("idx")).alias("pk"),
    )


# shared by dd14 (groupBy+join shape) and dd14w (window shape): the two
# are row-identical by construction, so one oracle serves both
_DD14_ORACLE = """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(trim(text), ' '), t -> t != '') AS tk
      FROM documents
    ),
    paras AS (
      SELECT doc_id, source, i AS idx,
             array_to_string(tk[(i*8+1):(i*8+8)], ' ') AS para
      FROM toks, UNNEST(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS t(i)
      WHERE len(tk) >= 1
    ),
    keyed AS (
      SELECT doc_id, source, idx, para, md5(para) AS h,
             doc_id * 100000 + idx AS pk
      FROM paras
    ),
    marked AS (
      SELECT *, min(pk) OVER (PARTITION BY h) AS mpk FROM keyed
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN pk <> mpk THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(count(DISTINCT CASE WHEN pk <> mpk THEN doc_id END)
                AS BIGINT) AS n_docs_affected,
           CAST(sum(CASE WHEN pk = mpk THEN length(para) ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM marked GROUP BY source
    """


def _dd14_census(marked: DataFrame) -> DataFrame:
    dup = F.col("pk") != F.col("mpk")
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(dup.cast("long")).alias("n_removed"),
        F.countDistinct(F.when(dup, F.col("doc_id")))
        .cast("long")
        .alias("n_docs_affected"),
        F.sum(F.when(~dup, F.col("plen")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


@register("dd14_global_paragraph_dedup", _DD14_ORACLE)
def dd14_global_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-WIDE paragraph dedup (the CCNet step, Wenzek et al. 2020:
    boilerplate paragraphs — headers, cookie banners, license blurbs —
    repeat across MILLIONS of documents; dedup at paragraph granularity
    before document-level passes). Paragraphs here are fixed 8-token
    chunks (the synthetic corpus has no newlines; its planted near-dup
    documents share most chunks, so cross-doc duplicates are real).
    First occurrence corpus-wide survives, ordered by (doc_id, idx)
    packed into one integer key.

    Spark-first shape, chosen for SKEW: a min-over-window on the hash
    partition would be one task per distinct paragraph — and the whole
    point of this operator is that some paragraphs (cookie banners,
    license blurbs) repeat across a large fraction of the corpus, so
    the hot hash IS the workload. Instead: groupBy(h).min(pk) — whose
    map-side partial aggregation collapses hot keys to one row per
    mapper BEFORE the shuffle — then an unhinted join back on h, where
    AQE's skew-join splits the probe side (the 1-row-per-key build
    replicates). The projection that shuffles is the narrow (doc_id,
    source, hash, pk, length) — paragraph text never leaves the scan;
    production would re-read surviving ids.

    Measured regime note (r8, tools/measure_skew.py + PLANS.md dd14):
    on a zipf fixture (30%-of-docs banner, hot key 18x the average
    partition) the window form is 2.4x FASTER at local[32] — this
    shape pays the tokenize scan twice (aliased join branches don't
    reuse exchanges) while a 150k-row hot partition costs ~0.1s. The
    shapes cross on a real cluster: at ~10k-way parallelism the
    per-core scan share shrinks ~300x while the hot window partition
    stays ONE sequential task (~10^11 rows at 100 TB). This query
    ships the cluster-regime shape; single-box callers should prefer
    the window form, and production amortizes the second scan by
    persisting the paragraph-key table."""
    d = load_table(spark, sf_dir, "documents")
    keyed = _dd14_keyed(d)
    firsts = keyed.groupBy("h").agg(F.min("pk").alias("mpk"))
    return _dd14_census(keyed.join(firsts, "h"))


@register("dd14w_paragraph_dedup_window", _DD14_ORACLE)
def dd14w_paragraph_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd14's SINGLE-BOX physical variant (row-identical — one oracle
    serves both): first occurrence via min(pk) OVER (PARTITION BY h),
    one scan and one shuffle instead of the groupBy+join shape's two
    scans. Measured 2.4x faster than dd14 at local[32] on the zipf
    fixture (tools/measure_skew.py; PLANS.md dd14 r8 note) because on
    one box the 18x-skewed hot partition costs ~0.1s of min-agg while
    the second tokenize scan costs seconds. The trade INVERTS at
    cluster parallelism — the hot window partition is one sequential
    task that AQE can never split — which is why dd14 stays the
    default registered shape and this one exists for the measured
    single-box regime."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    keyed = _dd14_keyed(d)
    w = Window.partitionBy("h")
    return _dd14_census(keyed.withColumn("mpk", F.min("pk").over(w)))


_DSIR_TARGET = ("src0", "src1", "src2")
_DSIR_B = 64  # hashed-feature buckets


def _ds12_oracle() -> str:
    from lakerunner_spark.functions.hashing import portable_hash64_sql

    tgt = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    bucket = f"{portable_hash64_sql('bigram', seed=12)} % {_DSIR_B}"
    return f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(trim(text), ' '), t -> t != '') AS tk
      FROM documents
    ),
    bg AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(tk)),
                    i -> tk[i] || ' ' || tk[i+1])) AS bigram
      FROM toks WHERE len(tk) >= 2
    ),
    bk AS (SELECT doc_id, source, {bucket} AS b FROM bg),
    counts AS (
      SELECT b, count(*) AS raw_cnt,
             sum(CASE WHEN source IN ({tgt}) THEN 1 ELSE 0 END) AS tgt_cnt
      FROM bk GROUP BY b
    ),
    tot AS (
      SELECT sum(raw_cnt) AS raw_total, sum(tgt_cnt) AS tgt_total
      FROM counts
    ),
    lr AS (
      SELECT b,
             CAST(round(pround(
                 ln((tgt_cnt + 1) / (tgt_total + {_DSIR_B}.0))
               - ln((raw_cnt + 1) / (raw_total + {_DSIR_B}.0)), 6)
               * 1000000) AS BIGINT) AS scaled
      FROM counts, tot
    ),
    docb AS (SELECT doc_id, b, count(*) AS cnt FROM bk GROUP BY doc_id, b),
    w AS (
      SELECT doc_id, sum(cnt * scaled) AS wsc, sum(cnt) AS n_bigrams
      FROM docb JOIN lr USING (b) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           pround(wsc / 1000000.0, 6) AS dsir_weight
    FROM w ORDER BY wsc DESC, doc_id ASC LIMIT 25
    """


@register("ds12_dsir_selection", _ds12_oracle())
def ds12_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): documents are scored
    by the log importance ratio of a TARGET domain's hashed-bigram
    distribution over the RAW corpus distribution, and the top-scoring
    documents are selected. Features are bigrams hashed into B=64
    buckets (md5-derived, engine-portable); both distributions are
    add-one smoothed; the target domain here is three curated sources.

    Exactness: the per-bucket log ratio is rounded once and scaled to
    an INTEGER (ppm); per-document weights are then integer sums —
    bit-exact in any engine and any summation order, so no float-order
    divergence can flip the top-k.

    Scale: two corpus scans (distribution pass + scoring pass — DSIR's
    own two-pass shape). Bucket counts reduce to a 64-row table joined
    back by broadcast HASH join (bounded by B, a constant, not by the
    corpus — the ds8 lesson does not apply); the grand totals come
    from a single-partition window over that SAME 64-row table (also
    B-bounded — no nested-loop join anywhere in the plan); per-document
    scoring shuffles once on (doc_id, bucket) with map-side partial
    counts; selection is a global top-k (TakeOrderedAndProject), never
    a full sort."""
    from lakerunner_spark.functions.hashing import portable_hash64
    from lakerunner_spark.functions.rounding import portable_round as _pr
    from lakerunner_spark.operators.skew import spread_small_scan

    # floor=2: this spread's exchange doubles as the AQE reuse boundary
    # for the shared (doc_id, tgt, b) corpus pass below — on a
    # single-partition input with no exchange anywhere, Spark would
    # plan that subtree once per distribution (the r12 #9 regression,
    # pinned by test_ds12_single_corpus_pass)
    d = spread_small_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        ),
        floor=2,
    )
    tk = F.expr("filter(split(trim(text), ' '), t -> t != '')")
    docs = d.select("doc_id", "source", tk.alias("_tk")).filter(
        F.size("_tk") >= 2
    )
    bg = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(_tk)-2),"
                " i -> concat(_tk[i], ' ', _tk[i+1]))"
            )
        ).alias("bigram"),
    )
    bk = bg.select(
        "doc_id",
        "source",
        (portable_hash64(F.col("bigram"), seed=12) % _DSIR_B).alias("b"),
    )
    # ONE pass over the exploded bigrams: both distributions derive from
    # the same (doc_id, tgt, b) counts — docb projects that aggregation
    # directly and the 64-row bucket table is a tiny re-agg above it.
    # The target flag rides as a GROUP KEY (keys survive column pruning
    # where a per-branch aggregate function would not), so both branches
    # plan the byte-identical subtree and AQE's stage dedup runs the
    # expensive part (scan -> tokenize -> explode -> md5 hash) once,
    # not once per distribution (r12, guide §2.2).
    grouped = bk.groupBy(
        "doc_id",
        F.col("source").isin(*_DSIR_TARGET).alias("tgt"),
        "b",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    counts = grouped.groupBy("b").agg(
        F.sum("cnt").alias("raw_cnt"),
        F.sum(
            F.when(F.col("tgt"), F.col("cnt")).otherwise(F.lit(0))
        ).alias("tgt_cnt"),
    )
    # totals via an unpartitioned window over the counts table — which
    # holds AT MOST B=64 rows by construction, so the single-partition
    # window is bounded by a constant, not the corpus (and the plan
    # carries no nested-loop join for the scalar totals)
    from pyspark.sql import Window

    wall = Window.partitionBy()
    raw_total = F.sum("raw_cnt").over(wall)
    tgt_total = F.sum("tgt_cnt").over(wall)
    smooth = float(_DSIR_B)
    lr = counts.select(
        "b",
        F.round(
            _pr(
                F.log((F.col("tgt_cnt") + 1) / (tgt_total + smooth))
                - F.log((F.col("raw_cnt") + 1) / (raw_total + smooth)),
                6,
            )
            * 1000000
        )
        .cast("long")
        .alias("scaled"),
    )
    docb = grouped.select("doc_id", "b", "cnt")
    w = (
        docb.join(lr, "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("scaled")).alias("wsc"),
            F.sum("cnt").cast("long").alias("n_bigrams"),
        )
    )
    return (
        w.orderBy(F.col("wsc").desc(), F.col("doc_id").asc())
        .limit(25)
        .select(
            "doc_id",
            "n_bigrams",
            _pr(F.col("wsc") / 1000000.0, 6).alias("dsir_weight"),
        )
    )


def _ds13_oracle() -> str:
    from lakerunner_spark.functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("CAST(doc_id AS VARCHAR)", seed=13)
    return f"""
    WITH k AS (
      SELECT doc_id, source, n_chars,
             ln(({h} % 1000000 + 1) / 1000001.0) / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           pround(es_key * 1000000, 6) AS es_key_ppm
    FROM k ORDER BY es_key DESC, doc_id ASC LIMIT 20
    """


@register("ds13_weighted_sample", _ds13_oracle())
def ds13_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis &
    Spirakis (2006) exponential-race keys: each document draws a
    deterministic uniform u from an id hash and competes with key
    u^(1/w) — equivalently ln(u)/w — where w is its size weight
    (n_chars); the global top-k by key IS an exact weighted sample.
    No RNG state, no sequential reservoir: any worker computes any
    document's key independently, so the sample is reproducible and
    restart-safe (the property training-data loaders need).

    Exactness: u is a small exact rational (hash mod 1e6), both
    engines evaluate the identical double through ln() (bit-exact off
    measure-zero boundaries — see native_histogram.py's cross-engine
    ln contract), and ties break on doc_id.

    Scale: map-side key computation + global top-k =
    TakeOrderedAndProject (per-partition heads, driver merge) — zero
    shuffles, no window, no full sort at any corpus size. Per-stratum
    sampling is the same expression under a partitionBy window or a
    groupBy(min_by) when k is small."""
    from lakerunner_spark.functions.hashing import portable_hash64
    from lakerunner_spark.functions.rounding import portable_round as _pr

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        portable_hash64(F.col("doc_id").cast("string"), seed=13) % 1000000
        + 1
    ) / F.lit(1000001.0)
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "source", "n_chars", key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            _pr(F.col("es_key") * 1000000, 6).alias("es_key_ppm"),
        )
    )


_DS14_BUDGET = 5000  # tokens per training shard


def _ds14_oracle() -> str:
    from lakerunner_spark.dataops.sampling import id_hash_sql

    return f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             {id_hash_sql("doc_id", salt=3)} AS k
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, k,
             coalesce(sum(n_tokens) OVER (
               ORDER BY k ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS excl
      FROM d
    )
    SELECT CAST(excl // {_DS14_BUDGET} AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1
    """


@register("ds14_shard_manifest", _ds14_oracle())
def ds14_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: documents take a deterministic
    id-hash order (the ds11 epoch-shuffle contract), accumulate a
    running token total, and cut into fixed-budget shards — each doc
    goes to the shard where its EXCLUSIVE running sum lands, which is
    the greedy shard writer every training-data export runs. The
    manifest certifies per-shard doc and token counts.

    The interesting part is HOW the running sum is computed: a naive
    `Window.orderBy(key)` with no partition is a single-task global
    sort — the ds9 straggler, now over the whole corpus. The engine's
    prefix_sum (dataops/sampling.py) instead buckets rows into 256
    STATIC key ranges (a monotonic function of the key), cumsums each
    bucket in parallel, cumsums the 256 bucket TOTALS on one task (a
    constant-size step), and broadcast-joins the offsets back:
    global = offset + local. One data shuffle; integer sums, so both
    engines agree exactly even though the ORACLE uses the plain
    global-window form — same semantics, different execution."""
    from lakerunner_spark.dataops.sampling import id_hash, prefix_sum
    from lakerunner_spark.dataops.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        id_hash(F.col("doc_id"), salt=3).alias("k"),
    )
    ps = prefix_sum(
        d, "k", "n_tokens", out_col="excl", buckets=256,
        tiebreak_col="doc_id",
    )
    return ps.groupBy(
        F.expr(f"CAST(excl div {_DS14_BUDGET} AS BIGINT)").alias("shard_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


@register(
    "ds15_length_histogram",
    """
    WITH t AS (
      SELECT length(string_split(text, ' ')) AS n_tokens FROM documents
      WHERE length(string_split(text, ' ')) >= 1
    )
    SELECT CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1
    """,
)
def ds15_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in power-of-two buckets (the packing
    diagnostic every training-data pipeline keeps: the bucket profile
    decides chunk size, pack budget, and padding waste). The bucket is
    floor(log2(n_tokens)) computed EXACTLY as the token count's bit
    length minus one — both engines' bin() — because floating
    log2/floor misbuckets exact powers of two when log(8)/log(2)
    lands one ulp under 3. Map-side only; one tiny aggregate."""
    from lakerunner_spark.dataops.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        token_count(F.col("text")).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") >= 1)
    bucket = (F.length(F.bin(F.col("n_tokens"))) - 1).cast("long")
    return d.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "dd15_dedup_funnel",
    f"""
    WITH cand AS ({_CANDIDATES_SQL}),
    sets AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sets GROUP BY doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared
      FROM cand c
      JOIN sets a ON a.doc_id = c.doc_a
      JOIN sets b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b,
             pround(coalesce(s.shared, 0) * 1.0 /
                   (sa.n_sh + sb.n_sh - coalesce(s.shared, 0)), 6) AS jaccard
      FROM cand c
      LEFT JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT 'docs' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
    UNION ALL
    SELECT 'exact_dup_docs', CAST(count(*) - count(DISTINCT text) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'lsh_candidate_pairs', CAST(count(*) AS BIGINT) FROM cand
    UNION ALL
    SELECT 'verified_pairs_08', CAST(count(*) AS BIGINT)
    FROM ver WHERE jaccard >= 0.8
    """,
)
def dd15_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline FUNNEL report (the observability layer of the
    dedup plane itself: corpus size -> exact dups -> LSH candidates ->
    verified near-dups; curation teams track these four numbers per
    snapshot to catch recall/precision drift in the pipeline). Each
    stage is the engine's own operator — exact-dup counting, narrow
    MinHash+LSH, array-form Jaccard verify at tau=0.8 — reduced to one
    count and unioned into a four-row report.

    Scale: each stage aggregates to ONE row before the union, so the
    union is four 1-row plans stacked — no stage's intermediate ever
    crosses into another's; the heavy lifting has the same bucketed/
    candidate-restricted shapes dd1/dd2/dd3 are benched with."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit("docs").alias("stage"), "n"
    )
    dups = d.agg(
        (F.count(F.lit(1)) - F.countDistinct("text")).cast("long").alias("n")
    ).select(F.lit("exact_dup_docs").alias("stage"), "n")
    sig = minhash_signatures_narrow(d, "text", "doc_id", n=3, num_hashes=8)
    cand = lsh_candidates(sig, "doc_id", num_hashes=8, band_rows=2)
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit("lsh_candidate_pairs").alias("stage"), "n"
    )
    ver = jaccard_verify_narrow(d, cand, "text", "doc_id", n=3)
    n_ver = (
        ver.filter(F.col("jaccard") >= 0.8)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("verified_pairs_08").alias("stage"), "n")
    )
    return docs.unionByName(dups).unionByName(n_cand).unionByName(n_ver)


def _txt13_oracle() -> str:
    from lakerunner_spark.operators.ddsketch import ddsketch_quantiles_sql

    th = ddsketch_quantiles_sql(
        "SELECT * FROM lng",
        ["pred_lang"],
        "score",
        [1 / 3, 2 / 3],
        out_cols=["t0", "t1"],
    )
    stop_vote = " + ".join(
        f"CASE WHEN list_contains(toks2, '{w}') THEN 1 ELSE 0 END"
        for w in ("the", "a", "of", "and", "to")
    )
    return f"""
    WITH toks0 AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), t -> t != '') AS tk
      FROM documents
    ),
    paras AS (
      SELECT doc_id, i AS idx,
             array_to_string(tk[(i*8+1):(i*8+8)], ' ') AS para
      FROM toks0, UNNEST(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS t(i)
      WHERE len(tk) >= 1
    ),
    keyed AS (
      SELECT doc_id, idx, para, md5(para) AS h,
             doc_id * 100000 + idx AS pk
      FROM paras
    ),
    marked AS (
      SELECT *, min(pk) OVER (PARTITION BY h) AS mpk FROM keyed
    ),
    docs2 AS (
      SELECT doc_id, string_agg(para, ' ' ORDER BY idx) AS text2
      FROM marked WHERE pk = mpk GROUP BY doc_id
    ),
    pred AS (
      SELECT doc_id,
             CASE WHEN ({stop_vote}) >= 2 THEN 'en'
                  WHEN ({stop_vote}) = 1 THEN 'en_maybe'
                  ELSE 'other' END AS pred_lang
      FROM (SELECT doc_id, string_split(text2, ' ') AS toks2 FROM docs2)
    ),
    lm_toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(trim(regexp_replace(lower(text2),
                 '[^a-z0-9]+', ' ', 'g')), ' '), t -> t != '')) AS tok
      FROM docs2
    ),
    sample AS (SELECT * FROM lm_toks WHERE doc_id % 7 = 0),
    counts AS (SELECT tok, count(*) AS cnt FROM sample GROUP BY tok),
    vocab AS (
      SELECT tok, cnt FROM counts
      ORDER BY cnt DESC, tok ASC LIMIT 500
    ),
    totals AS (SELECT count(*) AS _total FROM sample),
    scores AS (
      SELECT t.doc_id,
             pround(avg(-log2((coalesce(v.cnt, 0) + 1.0)
                              / (_total + 501.0))), 6) AS score
      FROM lm_toks t
      LEFT JOIN vocab v USING (tok)
      CROSS JOIN totals
      GROUP BY t.doc_id
    ),
    lng AS (
      SELECT p.pred_lang, s.doc_id, s.score
      FROM scores s JOIN pred p USING (doc_id)
    ),
    th AS ({th}),
    b AS (
      SELECT l.pred_lang,
             CASE WHEN l.score <= th.t0 THEN 'head'
                  WHEN l.score <= th.t1 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             l.score
      FROM lng l JOIN th ON l.pred_lang IS NOT DISTINCT FROM th.pred_lang
    )
    SELECT pred_lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           pround(avg(score), 6) AS avg_score
    FROM b GROUP BY 1, 2
    """


@register("txt13_ccnet_pipeline", _txt13_oracle())
def txt13_ccnet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet pipeline END TO END in one declarative plan (Wenzek
    et al. 2020 — the composition, not just the stages): corpus-wide
    paragraph dedup (dd14's keep-first groupBy+join shape) -> documents
    REBUILT from their surviving paragraphs -> language ID on the
    deduplicated text (txt2's stopword-vote heuristic standing in for
    fastText) -> unigram-LM scoring of the rebuilt text (the txt9
    machinery, vocabulary re-trained on the deduplicated corpus — the
    order CCNet itself specifies: LM after dedup) -> per-predicted-
    language perplexity terciles through rank_buckets'
    SKETCH route (the 100 TB route: no per-language sort anywhere).
    Emits the (predicted_lang, bucket) census. Docs whose every
    paragraph was a later duplicate vanish (nothing left to score);
    the oracle replays dedup, rebuild, vote, vocabulary, smoothing,
    thresholds, and census value for value.

    100 TB design: inherits each stage's contract — the dedup shuffle
    carries narrow keyed rows; the rebuild groups each doc's OWN
    surviving paragraphs; langid and scoring are map-side over the
    rebuilt corpus with a broadcast vocabulary; the tercile thresholds
    are (language x quantile) rows from one sketch walk, joined back
    unhinted."""
    return _txt13_plan(load_table(spark, sf_dir, "documents"))


def _txt13_paras(d: DataFrame) -> DataFrame:
    """txt13's paragraph scan: fixed 8-token chunks per document."""
    tk = F.expr("filter(split(trim(text), ' '), t -> t != '')")
    # NO spread_small_scan here (r12, measured): it shuffled the full
    # text payload (+14MB main / +129MB sf1) and txt13 ran x2.6 main /
    # x1.14 sf1 slower — the paragraph explode feeds aggregations whose
    # partial agg collapses rows before the shuffle (guide §2.3 class)
    docs = d.select("doc_id", tk.alias("_tk")).filter(F.size("_tk") >= 1)
    return docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(_tk)/8.0) as int) - 1),"
                " i -> concat_ws(' ', slice(_tk, i*8+1, 8)))"
            )
        ).alias("idx", "para"),
    )


def _txt13_kept(paras: DataFrame) -> DataFrame:
    """First-occurrence paragraph dedup over (doc_id, idx, para) rows.

    Dedup decision on NARROW rows, payload anti-joined on the unique
    occurrence key (r12, guide §8): the old shape aggregated min(pk)
    per hash and joined it back BY h — a sort-merge join that
    shuffled every para's text on the hash key just to compare two
    longs. The DROPPED set (duplicate instances minus firsts) is the
    small side of this decision — 6.4% of paras at sf1 — so a
    left_anti broadcasts it and the para payload never shuffles for
    the decision at all (it moves once, in the rebuild groupBy
    downstream). When the dropped set outgrows the broadcast
    threshold the join degrades to a shuffle on a UNIQUE key, so no
    equi-group is ever hot (the old h-join put every copy of a
    boilerplate paragraph in one group). The decision branch shuffles
    only (h, doc_id, idx, pk); first-occurrence order stays min(pk).
    The anti-join keys on the natural (doc_id, idx) pair, NOT the
    composite pk (r13, ADVICE): pk = doc_id*100000 + idx is the
    oracle-shared ORDER key, but keying the anti-join on it would
    make its uniqueness load-bearing — a >=100k-paragraph document
    would collide into the next doc_id and drop an unrelated row.
    The pk.isNotNull() pre-filter replicates the old `pk == mpk`
    filter exactly: a NULL pk compared NULL there and was dropped,
    where a left_anti would keep it (no build-side match) — pinned
    with the old shape as witness by
    test_txt13_dedup_anti_join_matches_join_back.
    Interleaved same-JVM A/B min-of-3: sf1 old 7.05s / new 5.74s,
    sf10 old 18.5s / new 15.7s (dedup->LM subtree, noop sink)."""
    from pyspark.sql import Window

    pk = (F.col("doc_id") * 100000 + F.col("idx")).alias("pk")
    dropped = (
        paras.select(F.md5("para").alias("h"), "doc_id", "idx", pk)
        .withColumn("mpk", F.min("pk").over(Window.partitionBy("h")))
        .filter(F.col("pk") != F.col("mpk"))
        .select("doc_id", "idx")
    )
    return (
        paras.select("doc_id", "idx", "para", pk)
        .filter(F.col("pk").isNotNull())
        .join(dropped, ["doc_id", "idx"], "left_anti")
    )


def _txt13_plan(d: DataFrame) -> DataFrame:
    """txt13's full dedup->rebuild->langid->LM->tercile pipeline over
    an arbitrary documents relation — shared with the NULL-planted
    gate variant (txt13n)."""
    from lakerunner_spark.dataops.sampling import rank_buckets
    from lakerunner_spark.dataops.text import langid_heuristic, unigram_logprob
    from lakerunner_spark.functions.rounding import portable_round

    kept = _txt13_kept(_txt13_paras(d))
    docs2 = (
        kept.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "para"))).alias("_ps"))
        .select(
            "doc_id",
            F.array_join(F.expr("transform(_ps, x -> x.para)"), " ").alias(
                "text2"
            ),
        )
    )
    pred = docs2.select(
        "doc_id", "text2", langid_heuristic(F.col("text2")).alias("pred_lang")
    )
    scores = unigram_logprob(
        pred, "text2", "doc_id", sample_mod=7, vocab_k=500
    ).select("doc_id", F.col("avg_neg_log2").alias("score"))
    j = scores.join(pred.select("doc_id", "pred_lang"), "doc_id")
    # materialize the scored corpus ONCE (narrow: doc_id, score,
    # pred_lang — the table production would persist between stages):
    # the sketch router reads j twice (threshold build + join-back),
    # and aliased branches don't reuse exchanges, so without this the
    # entire dedup->rebuild->langid->LM chain runs per branch (the
    # dd12 localCheckpoint lesson)
    j = j.localCheckpoint(eager=True)
    b = rank_buckets(
        j,
        "score",
        "pred_lang",
        [1 / 3, 2 / 3],
        ["head", "middle", "tail"],
        mode="sketch",
    )
    return b.groupBy("pred_lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        portable_round(F.avg("score"), 6).alias("avg_score"),
    )


# -- NULL group keys under the driver gate (r10 verdict task #4) --------
# The driver's sf0.01 fixture carries no NULL lang/source, so the
# null-safe group routes (sampling._nullsafe_attach, the `IS NOT
# DISTINCT FROM` oracle joins) never executed under a gate row — and
# the fixture is driver-owned, read-only. These variants plant
# deterministic NULL slices INSIDE the query, identically on both
# engines (the Spark side via the same CASE expression the oracle
# uses; the oracle via a CTE that SHADOWS `documents`, reaching the
# real view as main.documents), so every round's gate certifies the
# NULL-key routes over data that actually contains NULL keys. Mods
# match tests/test_null_group_keys.py's variant fixture
# (lang: doc_id%17=3, source: doc_id%23=5).

_NULL_LANG_EXPR = "CASE WHEN doc_id % 17 = 3 THEN NULL ELSE lang END"
_NULL_SRC_EXPR = "CASE WHEN doc_id % 23 = 5 THEN NULL ELSE source END"


def _null_planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "text",
        F.expr(_NULL_LANG_EXPR).alias("lang"),
        F.expr(_NULL_SRC_EXPR).alias("source"),
        "n_chars",
    )


def _null_plant_oracle(sql: str) -> str:
    """Rewrite a registered oracle to run over the planted documents:
    prepend a CTE named `documents` (which shadows the view for every
    reference in the original body — DuckDB resolves the shadowed base
    relation only via the explicit main. schema)."""
    plant = (
        "documents AS (SELECT doc_id, text, "
        f"{_NULL_LANG_EXPR} AS lang, {_NULL_SRC_EXPR} AS source, n_chars "
        "FROM main.documents)"
    )
    s = sql.lstrip()
    if s[:5].upper() != "WITH ":
        return f"WITH {plant}\n{s}"
    return "WITH " + plant + ",\n" + s[5:]


@register("ds9n_sketch_filter_null_keys", _null_plant_oracle(_ds9s_oracle()))
def ds9n_sketch_filter_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ds9s_quality_sketch_filter with NULL source keys planted: the
    NULL-source slice forms its own quality-threshold group (a NULL
    group key is a group, not a dropped row) and its docs filter
    against their own sketch threshold."""
    return _ds9s_plan(_null_planted_docs(spark, sf_dir))


@register(
    "txt12n_sketch_buckets_null_keys", _null_plant_oracle(_txt12s_oracle())
)
def txt12n_sketch_buckets_null_keys(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """txt12s_ccnet_sketch_buckets with NULL lang keys planted: the
    NULL-language slice gets its own tercile thresholds and census
    rows through the null-safe threshold join."""
    return _txt12s_plan(
        _txt12_scored(spark, sf_dir, docs=_null_planted_docs(spark, sf_dir))
    )


@register("txt13n_pipeline_null_keys", _null_plant_oracle(_txt13_oracle()))
def txt13n_pipeline_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """txt13_ccnet_pipeline over the NULL-planted documents: txt13's
    group key (pred_lang) is DERIVED from text, so this pins that the
    end-to-end pipeline tolerates NULL lang/source upstream (the
    defensive posture the r10 variant-fixture suite proved; now a
    standing gate row)."""
    return _txt13_plan(_null_planted_docs(spark, sf_dir))
