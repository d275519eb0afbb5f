"""Similarity search over embedding columns.

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The dot product stays JVM-side via ``zip_with``+``aggregate`` (no
  Python UDF); norms are computed once per side before the join.
- ``lsh_bucket_topk``: the scale path — random-hyperplane signs bucket
  vectors so the pairwise join only touches same-bucket candidates
  (recall < 1; probe multiple buckets to trade compute for recall).

Scale notes (100 TB): brute force is O(Q×N) — fine when Q is small
(a query batch) because the corpus scan parallelizes per partition and
the per-row work is a 64-float fma loop in codegen. For N×N all-pairs,
use the LSH bucket variant: shuffle keys are bucket signatures,
cardinality 2^planes, so choose planes ≈ log2(corpus/target_bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakerunner_spark.functions.rounding import (
    portable_round,
    portable_round_finite,
    pround_sql,
)

# Rounding convention for this module: every per-row similarity /
# distance here is a zip_with+aggregate fold — INTERPRETED, not
# codegen'd — so it must round through portable_round_finite, never
# through portable_round, whose NaN when-branch re-evaluates its
# argument ~4x (measured 1.67x wall on dd12's quadratic pair scan).
# Finiteness contract: L2 folds are sums of squares of finite floats
# (always finite); cosine folds divide by norms, where a zero-norm
# vector would give 0/0 = NaN — cosine against the zero vector is
# undefined, and these rankers pin it to the Spark-side 0.0 collapse
# (identical to the pre-NaN-transparency behavior every oracle run
# certified). Aggregate-RESULT rounding (F.sum/F.avg inside .agg) may
# keep portable_round: aggregate planning deduplicates the agg child,
# so the branch references a computed-once value.


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(col: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    Output: qid, cid, cosine (rounded; ranking on the rounded value with
    cid tiebreak keeps results deterministic across engines).
    """
    from lakerunner_spark.operators.skew import (
        VEC_ROWS_PER_PART,
        spread_small_scan,
    )

    q = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qv"),
        _norm("embedding").alias("_qn"),
    )
    # the per-pair HOF dot products are corpus-scan-adjacent; spread a
    # low-partition corpus across the cores first (r12, guide §2.5 —
    # no-op when the scan is already parallel)
    c = spread_small_scan(
        corpus.select("vec_id", "embedding"), rows_per_part=VEC_ROWS_PER_PART
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("_cv"),
        _norm("embedding").alias("_cn"),
    )
    # queries side is small -> broadcast; corpus scan streams once
    pairs = c.crossJoin(F.broadcast(q))

    scored = pairs.select(
        "qid",
        "cid",
        # portable_round_finite, not F.round: Spark ROUND and DuckDB
        # disagree on half-boundary doubles, which would flip
        # k-th-place ties (finite per the module rounding convention)
        portable_round_finite(
            _dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")), 4
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _dot_const_sql(vec_col: str, vals) -> str:
    """SQL text of the index-ordered <vec, const> dot fold: identical
    shape to the zip_with/aggregate Column form it replaces (same
    cast, same accumulation order, so bit-identical doubles), but ONE
    driver parse instead of one py4j round trip per element — the
    Column form dominated sim3/sim6 plan construction (guide §1: the
    cost was the driver boundary, not the executors)."""
    arr = "array(" + ",".join(
        f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals
    ) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr},"
        " (x, y) -> CAST(x AS DOUBLE) * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def lsh_bucket_signature(
    df: DataFrame,
    tables: list[list[list[float]]],
) -> DataFrame:
    """Multi-table random-hyperplane LSH: sign bits of <v, plane_i> form
    a bucket id per hash table; one (table, bucket) row per table —
    OR-amplification (candidates share ANY table's bucket), the standard
    recall lever for sign-LSH."""

    entries = []
    for t, planes in enumerate(tables):
        # ONE SQL-parsed expression per TABLE, not one py4j call per
        # plane sub-step: the per-plane Column form still issued ~10
        # driver round trips per plane (~180 per side over 18 planes —
        # measured at ~3s of sim3/sim8 plan construction, r13 #3). The
        # parsed tree is identical piece for piece: the same
        # index-ordered dot fold (_dot_const_sql), the same 12-dp
        # rounding (pround_sql, portable_round_finite's SQL text —
        # finite by the module convention), the
        # sign decided on the 12-dp-rounded dot (float summation order
        # differs across engines/partitions, and a dot within one ulp
        # of zero must not flip a bucket bit — oracle parity), each
        # bit CAST to BIGINT, and the same sig*2+bit accumulation.
        sig_sql = None
        for p in planes:
            dot = _dot_const_sql("embedding", p)
            bit = (
                f"CAST(CASE WHEN {pround_sql(dot, 12)} >= 0"
                " THEN 1 ELSE 0 END AS BIGINT)"
            )
            sig_sql = bit if sig_sql is None else (
                f"(({sig_sql}) * 2 + {bit})"
            )
        entries.append(
            F.struct(
                F.lit(t).alias("table"), F.expr(sig_sql).alias("bucket")
            )
        )
    return df.select(
        F.col("vec_id"), F.col("embedding"), F.explode(F.array(*entries)).alias("tb")
    ).select(
        "vec_id",
        "embedding",
        F.col("tb.table").alias("table"),
        F.col("tb.bucket").alias("bucket"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN: centroid cells + multi-probe.

    Centroids are the ``n_cells`` lowest-id corpus vectors (deterministic;
    production would k-means a sample — the cell/probe plumbing is
    identical). Corpus rows are assigned to their max-cosine cell; each
    query probes its ``n_probe`` closest cells and ranks only those
    cells' members. Recall grows with n_probe; compute ~ n_probe/n_cells
    of brute force.

    At scale the cell assignment is one broadcast pass over the corpus
    (centroids are tiny), the probe join shuffles on cell id — bounded
    cardinality, uniform by construction.
    """
    cents = (
        corpus.orderBy(F.col("vec_id").asc())
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").alias("_cent"),
            _norm("embedding").alias("_centn"),
        )
    )

    def assign(df: DataFrame, idc: str, top: int) -> DataFrame:

        # 12-dp rounding before the argmax: double summation ORDER
        # differs between engines (and between partitions), so ranking
        # on the raw float would let a last-ulp difference flip a cell
        # assignment; 12 dp is far beyond any real similarity gap and
        # makes the assignment engine-deterministic (oracle-able).
        # Norm computed ONCE per row before the centroid cross join (not
        # once per centroid) and carried through for the scoring stage.
        base = df.select(
            df[idc], df["embedding"], _norm("embedding").alias("_n")
        )
        scored = base.crossJoin(F.broadcast(cents)).select(
            idc,
            "embedding",
            "_n",
            "cell",
            portable_round_finite(
                _dot("embedding", "_cent") / (F.col("_centn") * F.col("_n")),
                12,
            ).alias("_sim"),
        )
        w = Window.partitionBy(idc).orderBy(
            F.col("_sim").desc(), F.col("cell").asc()
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top)
            .select(idc, "embedding", "_n", "cell")
        )

    from lakerunner_spark.operators.skew import (
        VEC_ROWS_PER_PART,
        spread_small_scan,
    )

    # corpus-side cell assignment is scan-adjacent HOF work (r12,
    # guide §2.5); the tiny queries side is left alone
    corpus = spread_small_scan(
        corpus.select("vec_id", "embedding"), rows_per_part=VEC_ROWS_PER_PART
    )
    cb = assign(corpus, "vec_id", 1).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("_cv"),
        F.col("_n").alias("_cn"),
        "cell",
    )
    qb = assign(queries, "vec_id", n_probe).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qv"),
        F.col("_n").alias("_qn"),
        "cell",
    )

    # no distinct: a corpus row belongs to exactly ONE cell (top=1), so
    # a (qid, cid) pair can only arise through that cell — the distinct
    # this replaced shuffled full embedding vectors for nothing
    pairs = cb.join(F.broadcast(qb), "cell").drop("cell")
    scored = pairs.select(
        "qid",
        "cid",
        portable_round_finite(
            _dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")),
            4,
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    tables: list[list[list[float]]],
    k: int,
) -> DataFrame:
    """ANN top-k over candidates sharing any (table, bucket).

    OR-amplification means a (qid, cid) pair can match in several
    tables, so the dedup is real — but it runs on ID PAIRS only; the
    embedding vectors and norms are attached afterwards by id-keyed
    joins, so the distinct never shuffles vector payloads and each
    row's norm is computed once, not once per candidate pair.
    """
    from lakerunner_spark.operators.skew import (
        VEC_ROWS_PER_PART,
        spread_small_scan,
    )

    # the per-plane sign folds and the pair dot products are corpus-
    # scan-adjacent (r12, guide §2.5); queries side stays tiny
    corpus = spread_small_scan(
        corpus.select("vec_id", "embedding"), rows_per_part=VEC_ROWS_PER_PART
    )
    qsig = lsh_bucket_signature(queries, tables).select(
        F.col("vec_id").alias("qid"), "table", "bucket"
    )
    csig = lsh_bucket_signature(corpus, tables).select(
        F.col("vec_id").alias("cid"), "table", "bucket"
    )
    pair_ids = (
        csig.join(F.broadcast(qsig), ["table", "bucket"])
        .select("qid", "cid")
        .distinct()
    )
    qv = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qv"),
        _norm("embedding").alias("_qn"),
    )
    cv = corpus.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("_cv"),
        _norm("embedding").alias("_cn"),
    )
    pairs = pair_ids.join(F.broadcast(qv), "qid").join(cv, "cid")

    scored = pairs.select(
        "qid",
        "cid",
        portable_round_finite(
            _dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn")),
            4,
        ).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ------------------------- embedding quantization ---------------------------


def quantize_embeddings(
    df: DataFrame,
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, scale, qvec).

    scale = max|x| / 127; q_i = clamp(round_half_up(x_i / scale), ±127).
    The standard 4x memory/IO compression for ANN candidate stages —
    candidates are generated over int8 vectors, exact re-ranking then
    reads the float originals. All per-row array expressions (one narrow
    map over the corpus scan, no UDF); rounding is floor(x+0.5), which
    Spark and DuckDB evaluate identically (engine-portable, unlike
    banker's rounding). A zero vector quantizes to zeros (scale 0).
    """
    withmax = df.select(
        F.col("vec_id"),
        F.col("embedding"),
        (
            F.expr(
                "array_max(transform(embedding,"
                " x -> abs(CAST(x AS DOUBLE))))"
            )
            / F.lit(127.0)
        ).alias("scale"),
    )
    qvec = F.expr(
        "transform(embedding, x -> CAST(CASE WHEN scale = 0D THEN 0D ELSE"
        " greatest(-127D, least(127D,"
        " floor(CAST(x AS DOUBLE) / scale + 0.5D))) END AS INT))"
    )
    return withmax.select("vec_id", "scale", qvec.alias("qvec"))


def dequantize_embeddings(
    df: DataFrame,
) -> DataFrame:
    """Inverse map: x̂_i = q_i * scale (array<double>)."""
    return df.select(
        "vec_id",
        F.expr(
            "transform(qvec, q -> CAST(q AS DOUBLE) * scale)"
        ).alias("embedding"),
    )


def _kmeans_trajectory(
    corpus: DataFrame,
    n_clusters: int,
    iters: int,
) -> "tuple[DataFrame, DataFrame]":
    """Shared unrolled-Lloyd plan builder: returns (assigned, cents)
    where ``assigned`` is the final (_id, cluster, dist) assignment and
    ``cents`` the 9-dp-rounded per-dim means over that FINAL assignment
    (cluster, pos, cval) — the single source of truth
    :func:`kmeans_assign` and the sampled semantic dedup derive from,
    so a trained-centroid table is the one the assignments were
    computed against."""
    if iters < 1:
        raise ValueError(f"kmeans: iters must be >= 1, got {iters}")
    from lakerunner_spark.functions.rounding import portable_round
    from lakerunner_spark.operators.skew import (
        VEC_ROWS_PER_PART,
        spread_small_scan,
    )

    # the long table is re-derived from the scan for every unrolled
    # iteration's shuffle; a single-row-group input would serialize each
    # of those posexplode map stages on one task (r12, guide §2.5) —
    # no-op when the corpus scan is already parallel
    long = spread_small_scan(
        corpus.select("vec_id", "embedding"), rows_per_part=VEC_ROWS_PER_PART
    ).select(
        F.col("vec_id").alias("_id"),
        F.posexplode(F.col("embedding")).alias("pos", "val"),
    )
    seeds = (
        corpus.orderBy(F.col("vec_id").asc())
        .limit(n_clusters)
        .select(F.col("vec_id").alias("_sid"))
    )
    from pyspark.sql import Window

    seed_rank = seeds.withColumn(
        "cluster",
        F.row_number().over(Window.orderBy(F.col("_sid").asc())) - 1,
    )
    cents = (
        long.join(
            F.broadcast(seed_rank), long["_id"] == seed_rank["_sid"]
        )
        .select("cluster", "pos", portable_round(F.col("val"), 9).alias("cval"))
    )
    assigned = None
    for _ in range(iters):
        dist = (
            long.join(F.broadcast(cents), "pos")
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
        assigned = (
            dist.groupBy("_id")
            .agg(F.min(F.struct("dist", "cluster")).alias("_best"))
            .select(
                "_id",
                F.col("_best.cluster").alias("cluster"),
                F.col("_best.dist").alias("dist"),
            )
        )
        cents = (
            long.join(assigned.select("_id", "cluster"), "_id")
            .groupBy("cluster", "pos")
            .agg(portable_round(F.avg("val"), 9).alias("cval"))
        )
    return assigned, cents


def kmeans_cents_arrow(
    train: DataFrame,
    n_clusters: int,
    iters: int,
) -> DataFrame:
    """The :func:`_kmeans_trajectory` centroid table as ONE numpy task
    (guide §4.2): the JVM trajectory unrolls each Lloyd iteration into
    an m*d*k exploding broadcast join plus three exchanges — real
    compute under the SemDeDup k ∝ n contract (sf10: 3 x ~80M-row
    joins to train 1,575 vectors) and a dozen fixed-overhead stages at
    small scale. Here the bounded train sample flows through a single
    ``mapInArrow`` partition and the whole trajectory runs vectorized,
    bit-identical to the JVM plan (dataops/kmeans_np.py documents the
    IEEE-order replay; pinned by test_kmeans_engines_equal).

    Scale contract: the train sample must fit one task — the SAME
    boundedness the trajectory plan already assumes when it broadcasts
    every iteration's centroid table (k*d rows, k ∝ m). Callers with
    an unbounded corpus (flat kmeans_assign) keep the JVM plan.
    NULL ids are dropped (the sampled route's ``id % mod`` filter
    already excludes them; documented rather than replicated)."""
    if iters < 1:
        raise ValueError(f"kmeans: iters must be >= 1, got {iters}")

    def fn(it):
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415

        from lakerunner_spark.dataops import kmeans_np as KM  # noqa: PLC0415

        blocks = []
        for batch in it:
            ids = batch.column("_id")
            if ids.null_count:
                keep = pc.is_valid(ids)
                batch = batch.filter(keep)
                ids = batch.column("_id")
            if batch.num_rows:
                blocks.append(KM.block_from_arrow(ids, batch.column("_vec")))
        if not blocks:
            yield pa.RecordBatch.from_pydict(
                {
                    "cluster": pa.array([], type=pa.int32()),
                    "pos": pa.array([], type=pa.int32()),
                    "cval": pa.array([], type=pa.float64()),
                }
            )
            return
        block = KM.merge_blocks(blocks)
        cents = KM.lloyd_cents(block, n_clusters, iters)
        rows = cents.rows()
        yield pa.RecordBatch.from_pydict(
            {
                "cluster": pa.array(
                    [r[0] for r in rows], type=pa.int32()
                ),
                "pos": pa.array([r[1] for r in rows], type=pa.int32()),
                "cval": pa.array([r[2] for r in rows], type=pa.float64()),
            }
        )

    return (
        train.select(
            F.col("vec_id").alias("_id"), F.col("embedding").alias("_vec")
        )
        .repartition(1)
        .mapInArrow(fn, "cluster int, pos int, cval double")
    )


def kmeans_assign(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, fully declarative:
    the fixed iteration count unrolls into one DataFrame plan (no
    driver-side centroid sync — each iteration's centroids are a tiny
    derived table the next assignment broadcast-joins).

    Deterministic and oracle-exact by construction:
    - seeding: the ``n_clusters`` lowest-id vectors, cluster index =
      their id rank (production seeds from a sample; the iteration
      plumbing is identical);
    - per-dim long form (posexplode) — element-wise centroid means are
      a plain groupBy(cluster, pos) avg, ROUNDED to 9 dp each
      iteration so both engines' next-iteration inputs are
      bit-identical despite partial-sum order;
    - assignment: squared-euclidean argmin over the 9-dp-rounded
      distance with cluster-asc tiebreak (the IVF 12-dp argmax
      pattern; 1e-9 grid is far above the ~1e-12 summation jitter).

    Returns (vec_id, cluster, dist) — dist is the final rounded
    squared distance to the assigned centroid.

    Scale: the corpus-long table is rows x dims; every join against
    centroids is a broadcast (k x dims rows); each iteration is one
    shuffle on (id, cluster) for distances + one on (cluster, pos) for
    means. Empty clusters drop out of the centroid table (both engines
    drop them identically)."""
    assigned, _ = _kmeans_trajectory(corpus, n_clusters, iters)
    return assigned.select(
        F.col("_id").alias("vec_id"), "cluster", "dist"
    )


def rp_sign_matrix(in_dim: int, out_dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic ±1 sign matrix for signed random projection
    (Achlioptas 2003: Rademacher entries preserve inner products in
    expectation with the Johnson–Lindenstrauss guarantee). Entry
    (i, j) is +1 iff the first hex nibble of md5("seed|i|j") is odd —
    engine-independent, so any runtime (or the DuckDB oracle) can
    regenerate the identical matrix."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}|{i}|{j}".encode()).hexdigest()[0], 16)
            % 2
            == 1
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    in_dim: int,
    out_dim: int,
    seed: int = 0,
) -> Column:
    """Project ``embedding`` (length ``in_dim``) to ``out_dim`` dims with
    the deterministic ±1 matrix — returns the projected array<double>
    column (caller attaches it with .withColumn / .select; the column
    is built purely from ``embedding``, so no DataFrame parameter —
    length mismatches surface as NULL components from zip_with, and
    callers own the in_dim contract).

    All folds are index-ordered (zip_with + aggregate), so Spark and a
    list_reduce-based oracle produce bit-identical doubles; no rounding
    is needed until ranking. Per row it is in_dim*out_dim
    multiply-adds inside whole-stage codegen — the 4-8x storage shrink
    this buys is what makes a 100 TB shortlist scan memory-resident."""
    signs = rp_sign_matrix(in_dim, out_dim, seed)
    # one parsed expression per output dim (identical fold, identical
    # doubles) — the per-element lit() form cost ~1.6s of py4j round
    # trips per plan construction (r13 #3, see _dot_const_sql)
    comps = [
        F.expr(_dot_const_sql("embedding", signs[j])) for j in range(out_dim)
    ]
    return F.array(*comps).alias("rp")


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 0,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): vectors split into
    ``m`` subspaces; each corpus subvector is replaced by the id of its
    nearest codeword, so a vector stores ``m`` small codes instead of
    ``dim`` floats; queries score by ASYMMETRIC distance — a per-query
    table of exact query→codeword subdistances, summed at the corpus
    vector's codes. Codebooks here are the ``n_codes`` lowest-id corpus
    vectors' subvectors (deterministic; production k-means a sample —
    the encode/ADC plumbing is identical, same convention as ivf_topk's
    seeding).

    Engine determinism: subdistances fold left-to-right over the
    subspace (both engines), are rounded to 12 dp BEFORE the argmin
    (the ivf_topk lesson — a last-ulp difference must not flip a code
    assignment), and the final ADC sum rounds to 6 dp before
    ranking with an id tiebreak.

    ``shortlist > 0`` adds the standard second stage: ADC ranks a
    shortlist per query, then the SHORTLIST ONLY is re-ranked by exact
    L2 against the raw vectors (the sim6 pattern) — quantization error
    then costs recall only when a true neighbor misses the whole
    shortlist, not when ADC misorders the head.

    At 100 TB: the codebook is m*n_codes rows — a constant — and
    broadcasts; corpus ENCODING is one broadcast pass over the scan
    (this is the point of PQ: the stored index is codes, ~dim/m/4 of
    the raw size at 8-bit codes); the per-query distance table is
    m*n_codes rows per query and broadcasts for interactive query
    counts, so the scored join is a broadcast hash join on (subspace,
    code) followed by one (query, candidate)-keyed partial-agg
    shuffle and a per-query top-k window over k-bounded groups. The
    re-rank touches shortlist*n_queries raw vectors — a point-lookup
    join, unhinted (AQE broadcasts the query-proportional side)."""
    ranked, corpus = _pq_ranked(queries, corpus, m, n_codes, dim)
    if not shortlist:
        return ranked.filter(F.col("_rn") <= k).select(
            "qid", "cid", "pq_dist"
        )
    return _pq_rerank(ranked, queries, corpus, shortlist, k)


def _pq_ranked(
    queries: DataFrame,
    corpus: DataFrame,
    m: int,
    n_codes: int,
    dim: int,
):
    """The shared head of :func:`pq_topk` — codebook, corpus encode,
    ADC scoring, per-query ranking — returning the ADC-ranked
    ``(qid, cid, pq_dist, _rn)`` rows plus the (possibly spread)
    corpus relation the re-rank stage reads raw vectors from. Split
    out (r13) so sim8's shortlist sweep builds and executes this
    subtree ONCE for its three PQ rows instead of once per shortlist;
    every expression is byte-identical to the pre-split pq_topk."""
    sub = dim // m
    if sub * m != dim:
        raise ValueError("pq_topk: dim must be divisible by m")

    def subrows(df: DataFrame, idc: str, out: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(out),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
            F.col("embedding"),
        ).select(
            out,
            "s",
            F.expr(
                f"transform(slice(embedding, s * {sub} + 1, {sub}),"
                f" x -> CAST(x AS DOUBLE))"
            ).alias("_sv"),
        )

    cents = corpus.orderBy(F.col("vec_id").asc()).limit(n_codes)
    ksub = subrows(cents, "vec_id", "code").withColumnRenamed("_sv", "_kv")

    l2 = F.expr(
        "aggregate(zip_with(_sv, _kv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )

    from lakerunner_spark.operators.skew import (
        VEC_ROWS_PER_PART,
        spread_small_scan,
    )

    # corpus encode (subspace explode + codeword argmin) is scan-
    # adjacent (r12, guide §2.5); cents above keeps the raw relation
    corpus = spread_small_scan(
        corpus.select("vec_id", "embedding"), rows_per_part=VEC_ROWS_PER_PART
    )
    csub = subrows(corpus, "vec_id", "cid")
    cdist = csub.join(F.broadcast(ksub), "s").select(
        "cid", "s", "code", portable_round_finite(l2, 12).alias("_d")
    )
    codes = (
        cdist.groupBy("cid", "s")
        .agg(F.min(F.struct("_d", "code")).alias("_m"))
        .select("cid", "s", F.col("_m.code").alias("code"))
    )

    qsub = subrows(queries, "vec_id", "qid")
    qtab = qsub.join(F.broadcast(ksub), "s").select(
        "qid", "s", "code", portable_round_finite(l2, 12).alias("_d")
    )

    adc = (
        codes.join(F.broadcast(qtab), ["s", "code"])
        .groupBy("qid", "cid")
        .agg(portable_round(F.sum("_d"), 6).alias("pq_dist"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("pq_dist").asc(), F.col("cid").asc()
    )
    return adc.withColumn("_rn", F.row_number().over(w)), corpus


def _pq_rerank(
    ranked: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    shortlist: int,
    k: int,
) -> DataFrame:
    """The exact-L2 re-rank tail of :func:`pq_topk` over an ADC-ranked
    relation from :func:`_pq_ranked` (see there for the r13 split
    rationale)."""
    short = ranked.filter(F.col("_rn") <= shortlist).select("qid", "cid")
    qv = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv")
    )
    cv = corpus.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("_cv")
    )
    exact_l2 = F.expr(
        "aggregate(zip_with(_qv, _cv, (x, y) ->"
        " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    rer = (
        short.join(cv, "cid")
        .join(qv, "qid")
        .select("qid", "cid", portable_round_finite(exact_l2, 6).alias("l2_dist"))
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.col("l2_dist").asc(), F.col("cid").asc()
    )
    return (
        rer.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .select("qid", "cid", "l2_dist")
    )


def l2_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k by squared L2 for each query (brute force) — the
    ground-truth twin of :func:`cosine_topk` for the L2-metric ANN
    routes (PQ ranks by L2, so its recall must be measured against
    exact L2, not cosine). Output: qid, cid, l2_dist (rounded before
    ranking, cid tiebreak — the engine-deterministic convention).

    Same 100 TB shape as cosine_topk: the query set broadcasts, the
    corpus streams once; the distance is an index-ordered fold."""
    q = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("_cv")
    )
    pairs = c.crossJoin(F.broadcast(q))
    l2 = F.expr(
        "aggregate(zip_with(_qv, _cv,"
        " (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    scored = pairs.select(
        "qid", "cid", portable_round_finite(l2, 6).alias("l2_dist")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("l2_dist").asc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
