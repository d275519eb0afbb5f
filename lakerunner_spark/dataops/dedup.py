"""Deduplication operators: exact, MinHash+LSH, Jaccard verify, SimHash.

All hashing is built from ``md5`` (engine-portable — the DuckDB oracle
reproduces the exact pipeline), and every stage is declarative DataFrame
ops so Catalyst keeps the whole plan JVM-side:

- shingling: split + transform + explode (no Python row loop)
- minhash: ``min(md5(seed || shingle))`` per doc per seed — one groupBy
- banding: signature concat + explode -> self-join on (band, sig)
- verify: shingle-set self-join -> |A∩B| / (|A|+|B|-|A∩B|)

Scale notes (100 TB): the shingle explode multiplies rows ~(tokens-2)×
but is map-side only; the minhash groupBy shuffles (doc_id) once with
map-side partial min; the LSH self-join shuffles on (band, sig) whose
cardinality ~ docs×bands with near-unique values — uniform, skew-free.
A hot bucket (giant near-dup cluster) would skew the pair join; AQE
skew-join splitting handles it, and the band-bucket size can be capped
(drop buckets > N docs as "template spam") like production dedup
pipelines do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.functions.rounding import (
    portable_round,
    portable_round_finite,
)

DEFAULT_NUM_HASHES = 8
DEFAULT_BAND_ROWS = 2


def exact_dedup_stats(df: DataFrame, text_col: str, group_cols: list[str]) -> DataFrame:
    """Exact-duplicate stats per group: docs, distinct texts, dup count."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(text_col).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(text_col)).alias("n_dups"),
    )


def exact_dedup(df: DataFrame, text_col: str, order_col: str) -> DataFrame:
    """Keep one row per distinct text (lowest order_col wins) — hash groupBy."""
    from pyspark.sql import Window

    w = Window.partitionBy(text_col).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Word n-gram shingles: (id, shingle) rows; docs with < n tokens drop out."""
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tokens")
    ).filter(F.size("tokens") >= n)
    # concat(tokens[i], ' ', tokens[i+1], ' ', tokens[i+2], ...)
    concat_args = ", ' ', ".join(f"tokens[i+{j}]" for j in range(n))
    shingle_expr = (
        f"transform(sequence(0, size(tokens)-{n}), i -> concat({concat_args}))"
    )
    return toks.select(
        id_col, F.explode(F.expr(shingle_expr)).alias("shingle")
    )


def _shingle_array_expr(n: int) -> str:
    """SQL expr: token array -> word n-gram shingle array (per row)."""
    concat_args = ", ' ', ".join(f"tokens[i+{j}]" for j in range(n))
    return (
        f"transform(sequence(0, size(tokens)-{n}),"
        f" i -> concat({concat_args}))"
    )


def minhash_signatures(
    shingle_df: DataFrame, id_col: str
) -> DataFrame:
    """Per-doc MinHash signature from md5 chunks (exploded-shingle form).

    One md5 yields four 8-hex-char (32-bit) hash values, so
    ``num_hashes`` functions need only ``ceil(n/4)`` digests per
    shingle: h_i = min(substr(md5('<i//4>|' || shingle), (i%4)*8+1, 8)).
    Prefer :func:`minhash_signatures_narrow` when starting from the
    corpus — it computes the same values with no explode and no shuffle.
    """
    aggs = []
    for i in range(DEFAULT_NUM_HASHES):
        seed, chunk = divmod(i, 4)
        digest = F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle")))
        aggs.append(F.min(F.substring(digest, chunk * 8 + 1, 8)).alias(f"h{i}"))
    return shingle_df.groupBy(id_col).agg(*aggs)


def minhash_signatures_narrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """MinHash signatures as a NARROW map over the corpus — no explode,
    no shuffle. Value-identical to ``minhash_signatures(shingles(df))``
    (same shingle strings, same md5 chunks, min over the same set), but
    the shingle stream never materializes as rows: each doc's signature
    is ``array_min`` over per-row higher-order array expressions, so at
    100 TB the signature stage is part of the corpus scan instead of a
    corpus×tokens shuffle. Docs with < n tokens drop out (as in
    ``shingles``). Digest arrays are computed once per seed in a
    separate projection so the md5 work isn't repeated per 32-bit chunk.
    """
    from lakerunner_spark.operators.skew import spread_small_scan

    # the md5 digest projections are scan-adjacent; spread a
    # single-row-group input across the cores first (r12, guide §2.5 —
    # no-op when the scan is already parallel)
    toks = spread_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tokens")
    ).filter(F.size("tokens") >= n)
    sh = toks.select(id_col, F.expr(_shingle_array_expr(n)).alias("_sh"))
    n_seeds = (num_hashes + 3) // 4
    digests = sh.select(
        id_col,
        *[
            F.expr(
                f"transform(_sh, s -> md5(concat('{seed}|', s)))"
            ).alias(f"_d{seed}")
            for seed in range(n_seeds)
        ],
    )
    cols = []
    for i in range(num_hashes):
        seed, chunk = divmod(i, 4)
        cols.append(
            F.expr(
                f"array_min(transform(_d{seed},"
                f" x -> substring(x, {chunk * 8 + 1}, 8)))"
            ).alias(f"h{i}")
        )
    # terminal repartition: the signature table is tiny (n_docs × eight
    # 8-char strings) and the LSH stage self-joins it — without an
    # exchange boundary here both join sides would re-scan and re-hash
    # the CORPUS (no ReusedExchange for exchange-free plans); with it,
    # Spark computes signatures once and reuses the shuffle output.
    return digests.select(id_col, *cols).repartition(id_col)


def lsh_candidates(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_rows: int = DEFAULT_BAND_ROWS,
) -> DataFrame:
    """Band the signatures and self-join: pairs sharing >= 1 band bucket."""
    n_bands = num_hashes // band_rows
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat(
                *[F.col(f"h{b * band_rows + r}") for r in range(band_rows)]
            ).alias("sig"),
        )
        for b in range(n_bands)
    ]
    bands = sig_df.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bs")
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def jaccard_verify_narrow(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs — array form.

    Value-identical to :func:`jaccard_verify` but the shingle sets stay
    per-row arrays: two id-keyed joins attach each side's distinct
    shingle array and ``array_intersect`` computes |A∩B| in codegen.
    The exploded-shingle table (corpus×tokens rows, which the classic
    form must ``distinct()`` — a full shuffle of it) never exists; the
    only shuffled relations are the corpus-sized array table and the
    (far smaller) candidate pairs. Per-row array size is bounded by
    document length, the same bound the parser/stats stages already
    assume.
    """
    from lakerunner_spark.operators.skew import spread_small_scan

    toks = spread_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tokens")
    ).filter(F.size("tokens") >= n)
    sets = toks.select(
        id_col, F.array_distinct(F.expr(_shingle_array_expr(n))).alias("_set")
    )
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("_set").alias("_sa"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("_set").alias("_sb"))
    j = candidates.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    return j.select(
        "doc_a",
        "doc_b",
        # finite by construction (size >= n filter means union >= 1);
        # the branchless variant keeps the array_intersect out of the
        # NaN when-branch's 4x re-evaluation (the dd12 lesson)
        portable_round_finite(inter / union, 6).alias("jaccard"),
    )


def jaccard_verify(
    shingle_df: DataFrame, candidates: DataFrame, id_col: str
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    |A∩B| from a shingle equi-join restricted to candidate pairs;
    |A|,|B| from per-doc distinct counts.
    """
    sets = shingle_df.distinct()
    sizes = sets.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sets.withColumnRenamed(id_col, "doc_a")
    b = sets.withColumnRenamed(id_col, "doc_b")
    shared = (
        candidates.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        candidates.join(shared, ["doc_a", "doc_b"], "left")
        .na.fill({"shared": 0})
        .join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # portable_round, not F.round: the ratio feeds oracle-compared
            # outputs and threshold filters (dd3/dd10), and F.round's
            # shortest-decimal HALF_UP disagrees with DuckDB's round on
            # half-boundary doubles (see functions/rounding.py)
            portable_round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


def all_pairs_candidates(
    df: DataFrame,
) -> DataFrame:
    """Explicit all-pairs candidate generator (id_a < id_b) for a
    BOUNDED slice — the candidate half of the candidates->verify split
    when the slice is small enough that all pairs are acceptable. At
    corpus scale use the LSH/IVF/MinHash generators instead."""
    ids = df.select(F.col("vec_id"))
    return ids.select(F.col("vec_id").alias("id_a")).join(
        F.broadcast(ids.select(F.col("vec_id").alias("id_b"))),
        F.col("id_a") < F.col("id_b"),
    )


def neardup_verify(
    candidates: DataFrame,
    corpus: DataFrame,
    threshold: float,
) -> DataFrame:
    """Verify candidate near-dup pairs by exact embedding cosine — the
    verify stage of the candidates->verify split, mirroring
    :func:`jaccard_verify`.

    Requires an EXPLICIT candidate-pair DataFrame (``id_a``/``id_b``)
    produced by a bounded generator (``similarity.lsh_bucket_topk`` /
    ``ivf_topk`` buckets, MinHash bands, a sampled slice); there is
    deliberately no corpus-level entry point on this path, so an
    accidental all-pairs plan cannot be built. Scale: two equi-joins of
    the pair table against the corpus on the id — the corpus never
    self-joins, shuffle volume is O(|candidates|).
    """
    from lakerunner_spark.dataops.similarity import _dot, _norm

    a = corpus.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        _norm("embedding").alias("_na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        _norm("embedding").alias("_nb"),
    )
    # zero-norm guard makes the cosine finite by construction (0/0 is
    # NaN and the engines disagree on NaN >= threshold — the
    # semantic_dedup convention), which licenses the branchless round:
    # the dot fold must stay out of portable_round's NaN when-branch
    pairs = (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .filter((F.col("_na") > 0) & (F.col("_nb") > 0))
    )
    cos = portable_round_finite(
        _dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 4
    )
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16
) -> DataFrame:
    """SimHash over word tokens: per-bit majority vote of token hashes.

    Portable construction: bit j of token t = (ascii of md5(t) hex char j)
    parity; document bit j = 1 if sum(+1/-1 votes) > 0. bits <= 32 (md5
    hex length). Hamming-near docs share most bits.
    """
    if bits > 16:
        raise ValueError("simhash: bits <= 16 (one 4-hex-char word)")
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    # parse the first 16 md5 bits once; bit j via shift+mask (one hash +
    # one conv per token instead of 16 substring probes)
    word = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
    toks = toks.withColumn("_w", word)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_w"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    voted = toks.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        sig = bit if sig is None else (sig * 2 + bit)
    return voted.select(F.col(id_col), sig.alias("simhash"))


def ngram_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share >= 1
    word n-gram with an evaluation/benchmark set.

    Returns (id, n_hit_grams) for *contaminated* training docs only —
    n_hit_grams = number of distinct benchmark n-grams the doc contains.
    Callers left-join this back to the corpus (null => clean).

    Scale (100 TB corpus vs a benchmark suite of a few MB): the distinct
    benchmark n-gram set is tiny, so the join is an explicit broadcast —
    the training shingle stream is filtered map-side with NO shuffle of
    corpus data; the only shuffle is the per-doc groupBy over the
    surviving hit rows (a vanishingly small fraction). This is the same
    candidates-stay-local shape production decontamination runs use.
    """
    t = shingles(train, text_col, id_col, n=n)
    b = shingles(bench, text_col, id_col, n=n).select("shingle").distinct()
    return (
        t.join(F.broadcast(b), "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_hit_grams"))
    )


# --------------------------- chunk-level dedup ------------------------------


def chunk_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 32,
) -> DataFrame:
    """Fixed-size token chunks hashed for partial-overlap dedup:
    (id, chunk_idx, chunk_hash) rows.

    Document-level exact dedup misses the common long-document failure
    mode where two pages share most of their body but differ in a
    header/footer. Chunk-granularity hashing (the approximation of
    exact substring dedup production pipelines run when a distributed
    suffix array is overkill) catches those: split into consecutive
    `chunk_tokens`-token chunks, hash each, and compare chunks across
    the corpus. The trailing partial chunk is kept (it still dedups
    exact tails).

    Scale notes (100 TB): chunking is a narrow per-row array transform
    (tokens regroup into ~tokens/chunk_tokens strings — no row blowup
    beyond the explode, which is map-side); the only shuffle is
    whatever aggregation the caller runs on `chunk_hash`, whose keys
    are near-unique md5s — uniform, skew-free by construction except
    for genuinely duplicated chunks, which is the signal itself.
    """
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    ).filter(F.size("_toks") >= 1)
    chunks = F.expr(
        f"transform(sequence(0, (size(_toks) - 1) div {chunk_tokens}),"
        f" i -> concat_ws(' ', slice(_toks, i * {chunk_tokens} + 1, {chunk_tokens})))"
    )
    c = toks.select(id_col, F.posexplode(chunks).alias("chunk_idx", "_chunk"))
    return c.select(
        id_col, "chunk_idx", F.md5(F.col("_chunk")).alias("chunk_hash")
    )


def chunk_dup_ratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 32,
) -> DataFrame:
    """Per-document duplicate-chunk fraction: (id, n_chunks, n_dup_chunks,
    dup_chunk_ratio) where a chunk is "duplicate" if its hash occurs in
    at least one OTHER document.

    Two shuffles: groupBy chunk_hash for corpus-wide occurrence counts,
    then groupBy doc for the per-doc ratio. The hash->doc-set join stays
    on the (small) chunk-hash table, never re-shuffling text.
    """
    ch = chunk_hashes(df, text_col, id_col, chunk_tokens)
    occ = ch.groupBy("chunk_hash").agg(
        F.countDistinct(id_col).alias("_ndocs")
    )
    flagged = ch.join(occ, "chunk_hash").select(
        id_col, (F.col("_ndocs") > 1).cast("int").alias("_dup")
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("_dup").alias("n_dup_chunks"),
        (F.sum("_dup") / F.count(F.lit(1))).alias("dup_chunk_ratio"),
    )


def substring_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    max_doc_freq: int = 50,
    min_shared: int = 2,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Exact-substring duplication candidates via winnowing collisions
    (Lee et al. "Deduplicating Training Data Makes Language Models
    Better" — the scalable stand-in for suffix-array substring dedup):
    any shared run of >= k+w-1 tokens guarantees a shared winnowed
    fingerprint, so cross-doc fingerprint collisions ARE substring
    candidates. Returns (doc_a, doc_b, shared_fps) for pairs sharing
    >= ``min_shared`` fingerprints, doc_a < doc_b.

    100 TB design: the self-join shuffles on fingerprint (~1/w of
    shingle volume); fingerprints in > ``max_doc_freq`` documents are
    dropped first — boilerplate phrases otherwise create quadratic
    hot-key pair blowup (same cap strategy as lsh_candidates). The
    capped fingerprint table is materialized ONCE before the self-join
    (Spark's exchange reuse misses aliased self-join branches, so an
    unmaterialized formulation recomputes the tokenize->gram->hash->min
    pipeline per branch). ``checkpoint_dir``: when set, that
    materialization is a reliable ``checkpoint()`` into the given
    cluster-FS path, surviving executor loss mid-job — the right mode
    on a real cluster; when None (default), executor-local
    ``localCheckpoint`` (cheaper; correct on local mode or where a
    failed job can simply re-run). Same contract as
    ``connected_components(checkpoint_dir=)`` (graph.py).
    """
    from pyspark.sql import Window

    from lakerunner_spark.dataops.text import winnow_fingerprints

    fps = winnow_fingerprints(docs, text_col, id_col, k=k, w=w)
    fps = (
        fps.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
        )
        .filter(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )
    if checkpoint_dir is not None:
        fps.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        fps = fps.checkpoint(eager=True)
    else:
        fps = fps.localCheckpoint(eager=True)
    return (
        fps.alias("a")
        .join(fps.alias("b"), "fingerprint")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def semantic_dedup(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 3,
    threshold: float = 0.3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means the embedding corpus, then compare pairs
    only WITHIN a cluster — the clustering localizes the otherwise
    quadratic all-pairs cosine scan to ~(n/k)^2 per cluster. A vector
    is a semantic duplicate when some lower-id vector in its cluster
    has cosine similarity >= ``threshold`` (4-dp-rounded before the
    compare, the dd5 portability convention).

    Returns one row per duplicate: (cluster, keep_id, drop_id, cosine)
    where keep_id is the LOWEST-id neighbor over the threshold
    (ties on cosine broken toward the lower keep_id implicitly by the
    min struct) — the canonical "keep first occurrence" delete list.

    100 TB design: clustering is the unrolled-Lloyd plan
    (broadcast centroids, see kmeans_assign); the pairwise stage
    shuffles once on the cluster key and never materializes
    cross-cluster pairs. k grows with corpus size to hold n/k — and
    thus per-task pair count — constant; the embedding arrays stay
    packed (zip_with dot product, no posexplode) so the shuffle
    payload is rows x dims doubles, with the quadratic work all
    in-task. MEASURED at sf1 (10x vectors, k grown 8->80 so n/k stays
    250): ~5x wall per decade, identical dup sets across k-routes;
    the per-dim long-form distance join stays the right plan at large
    k because its map-side partial aggregation collapses the shuffle
    to n*k rows (a packed-array alternative measured SLOWER — HOF
    folds are interpreted, the long form is whole-stage-codegen'd —
    see PLANS.md dd12)."""
    from lakerunner_spark.dataops.similarity import kmeans_assign

    assign = kmeans_assign(corpus, n_clusters, iters)
    return _pairs_within_clusters(corpus, assign, threshold, checkpoint_dir)


def _pair_scan_fn(threshold: float):
    """Per-cluster quadratic cosine scan as one vectorized numpy batch
    (the guide-§4.2 shape: Spark does the cluster shuffle, numpy does
    the O(n²·d) arithmetic). BIT-IDENTICAL to the JVM fold join it
    replaces: every float op matches the zip_with/aggregate fold's
    IEEE evaluation order — norms and dots accumulate dim-by-dim
    (``acc += x_j * y_j`` for j = 0..d-1, the fold's left-to-right
    order, vectorized across the pair axis, never BLAS-reordered), the
    round is the same ``floor(c*1e4 + 0.5)/1e4``, and per drop_id the
    lowest keep_id wins (pairs are unique, so ``min(struct(keep,
    cos))`` is exactly first-by-keep). Probed equal on the live
    fixture and pinned by test_semantic_pair_engines_equal.

    Degenerate rows replay the JVM filters exactly: a NULL or empty
    vector never passes ``_nrm > 0`` (NULL/0), a NULL element or NaN
    value poisons the norm fold (both arrive as NaN through Arrow and
    NaN > 0 is false on both engines), and a RAGGED pair's zip_with
    pads the shorter side with NULLs so its dot — hence ``_cos >=
    threshold`` — is NULL and the pair is dropped; the scan therefore
    pairs only within same-length groups."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def scan(cl, ids, V):
        n, d = V.shape
        nrm2 = np.zeros(n)
        for j in range(d):
            nrm2 += V[:, j] * V[:, j]
        nrm = np.sqrt(nrm2)
        ok = nrm > 0
        dot = np.zeros((n, n))
        for j in range(d):
            c = V[:, j]
            dot += np.outer(c, c)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / np.outer(nrm, nrm)
        cos = np.floor(cos * 10000.0 + 0.5) / 10000.0
        iu, ju = np.triu_indices(n, k=1)
        m = ok[iu] & ok[ju] & (cos[iu, ju] >= threshold)
        ka, dr, cz = iu[m], ju[m], cos[iu, ju][m]
        if len(ka) == 0:
            return None
        order = np.lexsort((ka, dr))  # by drop, then keep
        first = np.unique(dr[order], return_index=True)[1]
        sel = order[first]
        return pd.DataFrame(
            {
                "cluster": np.full(len(sel), cl),
                "keep_id": ids[ka[sel]],
                "drop_id": ids[dr[sel]],
                "cosine": cz[sel],
            }
        )

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["_vid"].to_numpy()
        cells = pdf["_vec"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids, cells = ids[order], cells[order]
        lens = np.array(
            [-1 if c is None else len(c) for c in cells], dtype=np.int64
        )
        parts = []
        for d in np.unique(lens[lens > 0]):
            idx = np.nonzero(lens == d)[0]
            V = np.stack(
                [np.asarray(cells[i], dtype=np.float64) for i in idx]
            )
            part = scan(pdf["cluster"].iloc[0], ids[idx], V)
            if part is not None:
                parts.append(part)
        if not parts:
            return pd.DataFrame(
                {
                    "cluster": pd.Series([], dtype=pdf["cluster"].dtype),
                    "keep_id": pd.Series([], dtype="int64"),
                    "drop_id": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        return pd.concat(parts, ignore_index=True)

    return fn


def _pairs_within_clusters(
    corpus: DataFrame,
    assign: DataFrame,
    threshold: float,
    checkpoint_dir: str | None,
    engine: str = "arrow",
) -> DataFrame:
    """The SemDeDup pair stage, shared by :func:`semantic_dedup` and
    :func:`semantic_dedup_sampled`: join the (id, cluster) assignment
    onto the packed vectors, self-join WITHIN a cluster only, and keep
    each duplicate's lowest-id over-threshold neighbor.

    ``engine="arrow"`` (default) runs the quadratic per-cluster scan
    as one numpy batch per cluster (``applyInPandas`` — a documented
    Arrow seam, tests/test_plan_guards.py): the cluster-keyed shuffle
    moves each vector ONCE (the JVM self-join shuffled both aliased
    sides) and the O(n²·d) cosine arithmetic runs vectorized instead
    of through the interpreted zip_with/aggregate fold — measured 4x
    on the dd12 fixture, bit-identical output (see :func:`_pair_scan_fn`).
    Skew posture is unchanged: one task per cluster either way, and
    the SemDeDup contract pins cluster size via k ∝ n.
    ``engine="jvm"`` keeps the fold join (the equivalence witness)."""
    if engine == "arrow":
        vecs = corpus.select(
            F.col("vec_id").alias("_vid"), F.col("embedding").alias("_vec")
        ).join(
            assign.select(F.col("vec_id").alias("_vid"), "cluster"), "_vid"
        )
        cluster_t = dict(assign.dtypes)["cluster"]
        id_t = dict(corpus.dtypes)["vec_id"]
        schema = (
            f"cluster {cluster_t}, keep_id {id_t},"
            f" drop_id {id_t}, cosine double"
        )
        return vecs.groupBy("cluster").applyInPandas(
            _pair_scan_fn(threshold), schema
        )
    vecs = corpus.select(
        F.col("vec_id").alias("_vid"),
        F.col("embedding").alias("_vec"),
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x),
                F.lit(0.0),
                lambda s, v: s + v,
            )
        ).alias("_nrm"),
    ).join(
        assign.select(F.col("vec_id").alias("_vid"), "cluster"), "_vid"
    )
    # Materialize the clustered table ONCE before the self-join: Spark's
    # exchange reuse misses aliased branches, so an unmaterialized
    # formulation re-runs the whole unrolled Lloyd trajectory per side
    # (the dd11 lesson). checkpoint_dir upgrades to a reliable
    # cluster-FS checkpoint, same contract as connected_components.
    if checkpoint_dir is not None:
        vecs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        vecs = vecs.checkpoint(eager=True)
    else:
        vecs = vecs.localCheckpoint(eager=True)
    a, b = vecs.alias("a"), vecs.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a._vec"),
            F.col("b._vec"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    # zero-norm guard: cosine of a zero vector is 0/0 = NaN, and the
    # engines DISAGREE on NaN >= threshold (Spark false, DuckDB sorts
    # NaN high → true) — exclude degenerate vectors before pairing
    pairs = (
        a.join(b, "cluster")
        .filter(
            (F.col("a._vid") < F.col("b._vid"))
            & (F.col("a._nrm") > 0)
            & (F.col("b._nrm") > 0)
        )
        .select(
            "cluster",
            F.col("a._vid").alias("_keep"),
            F.col("b._vid").alias("_drop"),
            # finite by the _nrm > 0 guards above, so the branchless
            # round applies — the interpreted zip_with/aggregate cosine
            # fold inside portable_round's NaN when-branch re-evaluated
            # 4x across this quadratic pair scan (dd12 2.74s -> 4.58s)
            portable_round_finite(
                dot / (F.col("a._nrm") * F.col("b._nrm")), 4
            ).alias("_cos"),
        )
        .filter(F.col("_cos") >= threshold)
    )
    return (
        pairs.groupBy("cluster", "_drop")
        .agg(F.min(F.struct("_keep", "_cos")).alias("_b"))
        .select(
            "cluster",
            F.col("_b._keep").alias("keep_id"),
            F.col("_drop").alias("drop_id"),
            F.col("_b._cos").alias("cosine"),
        )
    )


def semantic_dedup_sampled(
    corpus: DataFrame,
    n_clusters: int = 8,
    coarse_cells: int = 3,
    sample_mod: int = 4,
    iters: int = 3,
    threshold: float = 0.3,
    checkpoint_dir: str | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """SemDeDup at the scale the paper actually runs it: k-means is
    TRAINED ON A SAMPLE (``id % sample_mod == 0``) and the full corpus
    is assigned through a TWO-LEVEL centroid index — each of the k fine
    centroids maps to its nearest of ``coarse_cells`` coarse seeds
    (the lowest-cluster-id centroids, the ivf_topk seeding
    convention), a vector first picks its coarse cell (n*d*c work)
    and then argmins only that cell's fine centroids (n*d*(k/c)
    average). The pair stage is IDENTICAL to :func:`semantic_dedup`.

    Why this exists (measured, r7): the flat route's unrolled-Lloyd
    term is n*d*k per iteration, and the SemDeDup contract grows k
    with n to pin per-cluster pair work — so flat assignment is
    quadratic in corpus size. At sf10 (200k vectors, k=800 per the
    n/k=250 contract) the flat route exceeds 10 minutes while this
    route finishes the decade: training is m*d*k over the bounded
    sample, assignment is n*d*(c + k/c) — minimized near c = sqrt(k),
    turning the n*800 term into n*56.

    The assignment is APPROXIMATE at cell boundaries (a vector whose
    true nearest fine centroid lives in a different coarse cell gets
    its cell's best instead) — acceptable because SemDeDup's
    clustering is itself a recall heuristic; the cosine verify inside
    a cluster stays exact, so false POSITIVES cannot appear, only
    cross-cell duplicate pairs can be missed (same trade as dd2's LSH
    banding). Deterministic and oracle-exact: every distance is
    9-dp-rounded before its argmin (the ivf_topk lesson), ties break
    toward the lower cell/cluster id.

    ``engine="arrow"`` (default, r12): training runs as ONE numpy task
    (:func:`~lakerunner_spark.dataops.similarity.kmeans_cents_arrow` —
    the unrolled-Lloyd trajectory's m*d*k exploding joins collapse to a
    vectorized loop over the bounded train sample), the k*d centroid
    table is collected (the same bounded-side move a broadcast join
    makes) and the two-level assignment becomes one ``mapInArrow`` over
    the (id, vec) projection — the corpus is scanned ONCE and the
    n*d*(c + k/c) argmin arithmetic runs vectorized instead of through
    posexplode + two broadcast-join/re-agg rounds (n*d*(c + k/c) JOIN
    ROWS, three exchanges). Bit-identical by construction: every float
    op replays the JVM plan's IEEE evaluation order (kmeans_np module
    docstring), pinned by test_kmeans_engines_equal. ``engine="jvm"``
    keeps the declarative plan as the equivalence witness."""
    from lakerunner_spark.dataops.similarity import _kmeans_trajectory

    if coarse_cells < 1 or coarse_cells > n_clusters:
        raise ValueError(
            "semantic_dedup_sampled: need 1 <= coarse_cells <= n_clusters"
        )
    if sample_mod < 1:
        raise ValueError("semantic_dedup_sampled: sample_mod >= 1")
    train = corpus.filter(F.col("vec_id") % sample_mod == 0)
    # fail LOUDLY on an empty train slice (ids all nonzero mod
    # sample_mod): empty centroids would silently return an empty pair
    # set — every duplicate missed — instead of an error. One bounded
    # existence probe (LIMIT 1 over the filtered scan), plan-time only
    # and deliberately UNCACHED: this probe is a correctness input, so
    # a stale answer could suppress the error or raise it for a
    # now-populated table.
    if train.limit(1).count() == 0:
        raise ValueError(
            f"semantic_dedup_sampled: train slice is empty — no "
            f"vec_id satisfies vec_id % {sample_mod} == 0; pick a "
            f"sample_mod that intersects the id domain (or use "
            f"semantic_dedup for exact flat training)"
        )
    if engine == "arrow":
        from lakerunner_spark.dataops import kmeans_np as KM
        from lakerunner_spark.dataops.similarity import kmeans_cents_arrow
        from lakerunner_spark.operators.skew import (
            VEC_ROWS_PER_PART,
            spread_small_scan,
        )

        crows = kmeans_cents_arrow(train, n_clusters, iters).collect()
        cents_ix = KM.CentIndex.from_rows(
            [(r["cluster"], r["pos"], r["cval"]) for r in crows], n_clusters
        )
        cmap_arr = KM.coarse_map(cents_ix, coarse_cells)
        id_t = dict(corpus.dtypes)["vec_id"]
        C, CP, CM = cents_ix.C, cents_ix.CP, cents_ix.CM
        cells = coarse_cells

        def assign_fn(it):
            import pyarrow as pa  # noqa: PLC0415
            import pyarrow.compute as pc  # noqa: PLC0415

            from lakerunner_spark.dataops import kmeans_np as KM  # noqa: PLC0415

            cix = KM.CentIndex(C, CP, CM)
            for batch in it:
                ids = batch.column("_id")
                # NULL ids: the JVM plan drops them at the vcell
                # equi-join (NULL never matches itself) — replicate
                if ids.null_count:
                    batch = batch.filter(pc.is_valid(ids))
                    ids = batch.column("_id")
                if batch.num_rows == 0:
                    continue
                block = KM.block_from_arrow(ids, batch.column("_vec"))
                cl, has = KM.two_level_assign(block, cix, cmap_arr, cells)
                yield pa.RecordBatch.from_pydict(
                    {
                        "vec_id": pa.array(block.ids[has]).cast(ids.type),
                        "cluster": pa.array(
                            cl[has].astype("int32"), type=pa.int32()
                        ),
                    }
                )

        proj = corpus.select(
            F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
        )
        assign = spread_small_scan(
            proj, rows_per_part=VEC_ROWS_PER_PART
        ).mapInArrow(assign_fn, f"vec_id {id_t}, cluster int")
        return _pairs_within_clusters(corpus, assign, threshold, checkpoint_dir)
    _, cents = _kmeans_trajectory(train, n_clusters, iters)
    # materialize the trained centroids ONCE: cseed/cdist/fine all
    # branch off this plan and exchange reuse misses aliased branches
    # (the dd11 lesson) — without this the whole sample-Lloyd
    # trajectory re-runs per branch. k*d rows — tiny.
    if checkpoint_dir is not None:
        cents.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        cents = cents.checkpoint(eager=True)
    else:
        cents = cents.localCheckpoint(eager=True)
    # fine centroid -> coarse cell (k x c x d rows — constants)
    cseed = cents.filter(F.col("cluster") < coarse_cells).select(
        F.col("cluster").alias("cell"),
        "pos",
        F.col("cval").alias("scval"),
    )
    cdist = (
        cents.join(cseed, "pos")
        .groupBy("cluster", "cell")
        .agg(
            portable_round(
                F.sum(
                    (F.col("cval") - F.col("scval"))
                    * (F.col("cval") - F.col("scval"))
                ),
                9,
            ).alias("dist")
        )
    )
    cmap = (
        cdist.groupBy("cluster")
        .agg(F.min(F.struct("dist", "cell")).alias("_b"))
        .select("cluster", F.col("_b.cell").alias("cell"))
    )
    long = corpus.select(
        F.col("vec_id").alias("_id"),
        F.posexplode(F.col("embedding")).alias("pos", "val"),
    )
    # coarse pass: n*d*c rows inside one codegen pipeline, map-side
    # partial agg collapses the shuffle to n*c rows (the long-form
    # plan PLANS.md dd12 keeps for exactly this reason)
    vdist = (
        long.join(F.broadcast(cseed), "pos")
        .groupBy("_id", "cell")
        .agg(
            portable_round(
                F.sum(
                    (F.col("val") - F.col("scval"))
                    * (F.col("val") - F.col("scval"))
                ),
                9,
            ).alias("dist")
        )
    )
    vcell = (
        vdist.groupBy("_id")
        .agg(F.min(F.struct("dist", "cell")).alias("_b"))
        .select("_id", F.col("_b.cell").alias("cell"))
    )
    # fine pass: only the vector's own cell's centroids join in
    fine = cents.join(F.broadcast(cmap), "cluster")
    fdist = (
        long.join(vcell, "_id")
        .join(F.broadcast(fine), ["cell", "pos"])
        .groupBy("_id", "cluster")
        .agg(
            portable_round(
                F.sum(
                    (F.col("val") - F.col("cval"))
                    * (F.col("val") - F.col("cval"))
                ),
                9,
            ).alias("dist")
        )
    )
    assign = (
        fdist.groupBy("_id")
        .agg(F.min(F.struct("dist", "cluster")).alias("_b"))
        .select(
            F.col("_id").alias("vec_id"), F.col("_b.cluster").alias("cluster")
        )
    )
    return _pairs_within_clusters(corpus, assign, threshold, checkpoint_dir)


def substring_verify_runs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact-substring verification for winnowing candidates (the Lee
    et al. fidelity pass): for each candidate pair, compute the TRUE
    longest shared token run by joining the two docs' k-token grams on
    the literal gram STRING (not the hash — so hash collisions cannot
    survive) and stitching matched grams into diagonal runs: matches
    at positions (i, j), (i+1, j+1), ... share the diagonal i - j, and
    a maximal consecutive stretch of ``r`` grams there is a shared run
    of exactly k - 1 + r tokens. Stretch detection is the classic
    gaps-and-islands window (i - row_number() per diagonal), the same
    verify-after-candidates shape as dd3's Jaccard pass. Pairs whose
    fingerprint collisions were pure hash accidents share no gram and
    drop out — the output pair set is a subset of the input's, each
    with its exact ``longest_run`` token length for thresholded delete
    lists.

    100 TB design: grams are materialized ONLY for documents that
    appear in a candidate pair (left-semi prune) — candidates are a
    vanishing fraction of the corpus after dd11's frequency cap — and
    every window partitions by (pair, diagonal), whose size is bounded
    by the shorter doc, never by the corpus.
    """
    runs = _gram_run_islands(docs, pairs, text_col, id_col, k)
    return runs.groupBy("doc_a", "doc_b").agg(
        (F.lit(k - 1) + F.max("_glen")).cast("long").alias("longest_run")
    )


def _gram_run_islands(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Shared gram-match core of the verify/remove passes: one row per
    maximal diagonal run of literally-matching k-token grams —
    (doc_a, doc_b, diag, island, _glen, _jmin) with _jmin the run's
    0-based start gram position in doc_b."""
    from pyspark.sql import Window

    ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    toks = F.expr(WINNOW_TOKENIZE.format(col=text_col))
    d = (
        docs.select(id_col, text_col)
        .join(ids, id_col, "left_semi")
        .select(F.col(id_col), toks.alias("_tk"))
        .filter(F.size("_tk") >= k)
    )
    grams = d.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_tk) - {k - 1}),"
                f" i -> array_join(slice(_tk, i, {k}), ' '))"
            )
        ).alias("pos", "gram"),
    )
    m = (
        pairs.join(
            grams.alias("ga"), F.col("doc_a") == F.col(f"ga.{id_col}")
        )
        .join(
            grams.alias("gb"),
            (F.col("doc_b") == F.col(f"gb.{id_col}"))
            & (F.col("ga.gram") == F.col("gb.gram")),
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("ga.pos").alias("i"),
            F.col("gb.pos").alias("j"),
        )
        .withColumn("diag", F.col("i") - F.col("j"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("i")
    return (
        m.withColumn("island", F.col("i") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.count(F.lit(1)).alias("_glen"), F.min("j").alias("_jmin"))
    )


WINNOW_TOKENIZE = (
    "filter(split(trim(regexp_replace(lower({col}),"
    " '[^a-z0-9]+', ' ')), ' '), t -> t != '')"
)


def substring_duplicate_spans(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_run: int = 10,
) -> DataFrame:
    """Verified duplicate SPANS for removal (the step after
    :func:`substring_verify_runs` in the Lee et al. pipeline): every
    maximal shared gram run of at least ``min_run`` tokens becomes a
    half-open 1-based token interval [start, end) in the HIGHER-id doc
    of its pair — the keep-first convention: the first occurrence
    (lower id) survives, later copies are cut. Same gram-match core as
    the verify pass (literal grams — collisions cannot produce a
    span), same (pair, diagonal)-bounded windows."""
    runs = _gram_run_islands(docs, pairs, text_col, id_col, k)
    return (
        runs.select(
            F.col("doc_b").alias(id_col),
            (F.col("_jmin") + 1).alias("start"),
            (F.col("_jmin") + F.col("_glen") + k).alias("end"),
        )
        .filter(F.col("end") - F.col("start") >= min_run)
    )


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut duplicated token spans out of their documents (Lee et al.
    2022 \"Deduplicating Training Data Makes Language Models Better\" —
    the removal step: all-but-first occurrences of long shared
    substrings are deleted, not whole documents). ``spans`` is
    (id_col, start, end) half-open 1-based token intervals over the
    winnowing tokenization; intervals from different pairs may overlap
    arbitrarily, so they are first UNIONED per document (classic
    interval merge: running max of end over the start-ordered window,
    new island when a start clears everything before it), then the
    document is rebuilt from the tokens no merged interval covers.

    Returns one row per AFFECTED document: (id_col, n_tokens,
    n_removed, clean_text) where clean_text is the normalized token
    stream (the tokenization the spans are defined over) with covered
    tokens removed, order preserved.

    100 TB design: tokenization happens ABOVE the per_doc join, so
    only span-bearing documents pay the regex split and only their
    (id, text) rows shuffle — Catalyst prunes columns below a join
    but never pushes expression evaluation down into the unaffected
    corpus side; the merge window partitions per document over its
    OWN spans (bounded by that doc's verified-pair count, not the
    corpus); the rebuild is a per-row array filter against the doc's
    merged-interval array (spans per doc are few — the nested HOF
    predicate is interpreted but its domain is tokens x
    merged-intervals of one document)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("start", "end")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.withColumn(
        "_new", F.when(F.col("start") > F.coalesce(prev_max, F.lit(0)), 1)
        .otherwise(0),
    )
    merged = (
        flagged.withColumn("_isl", F.sum("_new").over(w))
        .groupBy(id_col, "_isl")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
    )
    per_doc = merged.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("start", "end"))).alias("_sp")
    )
    toks = F.expr(WINNOW_TOKENIZE.format(col=text_col))
    # the inner join IS the affected-docs filter (no separate
    # left_semi prune — that would evaluate the span merge pipeline a
    # second time, and aliased branches don't reuse exchanges); the
    # tokenize projection sits ABOVE the join so unaffected corpus
    # rows never pay it
    d = (
        docs.select(F.col(id_col), F.col(text_col))
        .join(per_doc, id_col)
        .select(F.col(id_col), toks.alias("_tk"), "_sp")
    )
    kept = F.expr(
        "filter(_tk, (t, i) -> NOT exists(_sp,"
        " s -> i + 1 >= s.start AND i + 1 < s.end))"
    )
    return d.select(
        id_col,
        F.size("_tk").cast("long").alias("n_tokens"),
        (F.size("_tk") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def hamming_neardup_pairs(
    words: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 8,
) -> DataFrame:
    """Banded Hamming near-duplicate join over per-id band words (the
    simhash/MinHash banding trade applied to perceptual hashes —
    dedup.py module notes): ids sharing at least one EXACT band word
    become candidates via an equi-keyed self-join on (band, word) —
    bucketed, never all-pairs — then candidates verify by the total
    popcount of XOR across ALL bands. Returns (id_a, id_b, hamming)
    with id_a < id_b and hamming <= max_hamming.

    Recall contract (the LSH trade): a true near-dup pair is found iff
    its differing bits leave at least one band untouched — with B
    bands, any pair within B-1 bit flips confined to B-1 bands is
    guaranteed; uniform-random corruption beyond that degrades
    gracefully, exactly simhash banding's behavior. Precision is exact:
    the verify pass computes the true Hamming distance.

    Scale (the ddm1 100 TB design): the self-join shuffles on
    (band, word) whose values are near-unique except for genuinely
    duplicated content — the signal itself; a pathological hot word
    (solid-color images all hashing to 0) is the dd2 hot-bucket story
    and caps the same way. The verify join re-keys the BOUNDED
    candidate set by id — band words per id are a constant few rows."""
    if max_hamming < 0:
        raise ValueError("hamming_neardup_pairs: max_hamming >= 0")
    # this operator reads `words` FOUR times (two candidate sides, two
    # verify sides) through joins with different key sets, so the
    # per-branch pushed filters make every subtree canonically distinct
    # and exchange reuse never fires — without materialization the
    # whole upstream hash build (for images: the decode pass) runs four
    # times. localCheckpoint is the dd12/dd12s remedy: the words table
    # is a few small rows per id (for dHash, 4 band words), so
    # materializing it is exactly the "persist the hash index" step a
    # production pipeline runs anyway.
    words = words.localCheckpoint(eager=True)
    a = words.select(F.col(id_col).alias("id_a"), "band", "word")
    b = words.select(F.col(id_col).alias("id_b"), "band", "word")
    cand = (
        a.join(b, ["band", "word"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    wa = words.select(
        F.col(id_col).alias("id_a"), "band", F.col("word").alias("_wa")
    )
    wb = words.select(
        F.col(id_col).alias("id_b"), "band", F.col("word").alias("_wb")
    )
    # the verify join is INNER on band, so two ids with DIFFERENT band
    # sets (images of different heights → different band counts) would
    # silently compare only their shared bands, underestimating the
    # distance. Count the compared bands per pair and require the full
    # band set of BOTH sides: a band-count mismatch is a structural
    # non-match (different hash geometry), never a near-dup.
    nb = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nb"))
    verified = (
        cand.join(wa, "id_a")
        .join(wb, ["id_b", "band"])
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.expr("bit_count(_wa ^ _wb)"))
            .cast("long")
            .alias("hamming"),
            F.count(F.lit(1)).alias("_nc"),
        )
    )
    return (
        verified.join(
            nb.select(F.col(id_col).alias("id_a"), F.col("_nb").alias("_nba")),
            "id_a",
        )
        .join(
            nb.select(F.col(id_col).alias("id_b"), F.col("_nb").alias("_nbb")),
            "id_b",
        )
        .filter(
            (F.col("_nc") == F.col("_nba"))
            & (F.col("_nc") == F.col("_nbb"))
            & (F.col("hamming") <= max_hamming)
        )
        .select("id_a", "id_b", "hamming")
    )


def frame_hamming_runs(
    words: DataFrame,
    video_col: str = "media_id",
    frame_col: str = "frame_idx",
    max_hamming: int = 2,
    min_run: int = 3,
    frame_key: int = 1_000_000,
) -> DataFrame:
    """Video near-duplicate detection via temporal runs of matching
    frames (the dd11v gaps-and-islands shape on FRAME INDEX instead of
    gram position): per-frame dHash band words (``words``: video_col,
    frame_col, band, word — multimodal.video_frame_dhash_bands) go
    through the banded Hamming join at (video, frame) granularity,
    cross-VIDEO frame matches (hamming <= ``max_hamming``) land on
    diagonals frame_a - frame_b, and maximal consecutive stretches
    there are shared clips: a re-encoded copy matches every frame at
    offset 0, a head-trimmed copy matches its surviving frames at a
    constant positive offset, and a single coincidentally-similar
    frame never reaches ``min_run``. Returns (video_a, video_b,
    offset, longest_run) per matching diagonal, video_a < video_b.

    ``frame_key`` packs (video, frame) into one id for the banded
    join; sampled frame indices must stay below it (the callers'
    max_frames is orders of magnitude smaller — video ids up to
    ~9e12 keep the packed id inside int64 at the default).

    100 TB design: inherits hamming_neardup_pairs' contract (banded
    equi-join on (band, word), never all-pairs; exact popcount verify;
    band-count mismatch rejected) — frames just multiply the id count
    by the bounded sample size; the run windows partition per (pair,
    diagonal), bounded by one video's sampled frames."""
    from pyspark.sql import Window

    if min_run < 1:
        raise ValueError("frame_hamming_runs: min_run >= 1")
    if frame_key < 1:
        raise ValueError("frame_hamming_runs: frame_key >= 1")
    # the packing precondition is ENFORCED, not just documented: a
    # frame index at or past frame_key (or a negative id) would pack
    # (video, frame_key) onto (video+1, 0) and silently attribute
    # matches to the wrong video pair — fail loudly instead (the rows
    # are a few band words per frame; the check is one comparison).
    # The int64 ceiling is part of the same contract: a video id past
    # max_video makes video*frame_key + frame wrap (non-ANSI silent
    # overflow) and misattribute matches just as quietly, so it trips
    # the same raise_error instead of the docstring's ~9e12 footnote.
    max_video = (2**63 - 1 - (frame_key - 1)) // frame_key
    packed = F.expr(
        f"CASE WHEN {frame_col} >= {frame_key} OR {frame_col} < 0"
        f" OR {video_col} < 0 OR {video_col} > {max_video}"
        f" THEN raise_error(concat("
        f"'frame_hamming_runs: (video, frame) = (',"
        f" CAST({video_col} AS STRING), ', ', CAST({frame_col} AS STRING),"
        f" ') violates the packing contract (0 <= frame < frame_key="
        f"{frame_key}, 0 <= video <= {max_video})'))"
        f" ELSE {video_col} * CAST({frame_key} AS BIGINT) + {frame_col} END"
    )
    fids = words.select(packed.alias("_fid"), "band", "word")
    pairs = hamming_neardup_pairs(fids, "_fid", max_hamming=max_hamming)
    m = pairs.select(
        F.expr(f"id_a DIV {frame_key}").alias("video_a"),
        F.expr(f"id_a % {frame_key}").alias("i"),
        F.expr(f"id_b DIV {frame_key}").alias("video_b"),
        F.expr(f"id_b % {frame_key}").alias("j"),
    ).filter(F.col("video_a") != F.col("video_b"))
    w = Window.partitionBy("video_a", "video_b", "offset").orderBy("i")
    return (
        m.withColumn("offset", F.col("i") - F.col("j"))
        .withColumn("_isl", F.col("i") - F.row_number().over(w))
        .groupBy("video_a", "video_b", "offset", "_isl")
        .agg(F.count(F.lit(1)).alias("_rl"))
        .groupBy("video_a", "video_b", "offset")
        .agg(F.max("_rl").cast("long").alias("longest_run"))
        .filter(F.col("longest_run") >= min_run)
    )
