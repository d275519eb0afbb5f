"""Text analysis operators: stats, quality scoring, language-ID heuristic,
token counting, structural fingerprinting.

Everything is built-in-function only (split/length/regexp/md5) so the
whole pipeline stays in whole-stage codegen — these run over every
document at ingest, the hottest path in a training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# words whose presence votes for English — tiny stopword language model
EN_STOPWORDS = ["the", "a", "of", "and", "to"]

# BPE-ish token splitter: runs of letters, runs of digits, or single
# non-space symbols (approximates subword pre-tokenization)
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token count: whitespace split or BPE-ish regex count."""
    if mode == "whitespace":
        return F.size(F.split(text, " "))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))
    raise ValueError(f"unknown token mode: {mode}")


def avg_word_len(text: Column, n_tokens: Column) -> Column:
    """Mean token length for single-space-joined text: (chars - spaces)/n."""
    return (F.length(text) - (n_tokens - 1)) / n_tokens


def quality_score(n_tokens: Column, n_chars: Column) -> Column:
    """Length-based quality heuristic in [0,1]: longer docs score higher."""
    return (
        F.least(F.lit(1.0), n_tokens.cast("double") / 50.0) * 0.5
        + F.least(F.lit(1.0), n_chars.cast("double") / 300.0) * 0.5
    )


def text_stats(df: DataFrame, text_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group document statistics: counts, token/char averages, quality."""
    t = F.col(text_col)
    n_tok = token_count(t)
    enriched = df.select(
        *group_cols,
        n_tok.alias("_nt"),
        F.length(t).alias("_nc"),
        avg_word_len(t, n_tok).alias("_wl"),
        quality_score(n_tok, F.length(t)).alias("_q"),
    )
    return enriched.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("_nt"), 6).alias("avg_tokens"),
        F.round(F.avg("_nc"), 6).alias("avg_chars"),
        F.round(F.avg("_wl"), 6).alias("avg_word_len"),
        F.round(F.avg("_q"), 6).alias("avg_quality"),
    )


def quality_components(text: Column) -> dict[str, Column]:
    """Richer quality signals (all codegen-friendly):

    - stopword_ratio: stopword tokens / tokens (fluency proxy)
    - punct_ratio: punctuation chars / chars (boilerplate/code proxy)
    - digit_ratio: digit chars / chars (table/log-dump proxy)
    - uniq_token_ratio: distinct tokens / tokens (repetition proxy)
    """
    toks = F.split(text, " ")
    n_tok = F.size(toks)
    n_chars = F.length(text)
    stop_hits = F.size(
        F.filter(toks, lambda tk: tk.isin(*EN_STOPWORDS))
    )
    n_punct = F.length(F.regexp_replace(text, r"[^\.,;:!?'\"()\[\]{}]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return {
        "stopword_ratio": stop_hits / n_tok,
        "punct_ratio": n_punct / n_chars,
        "digit_ratio": n_digit / n_chars,
        "uniq_token_ratio": F.size(F.array_distinct(toks)) / n_tok,
    }


def langid_heuristic(text: Column) -> Column:
    """Stopword-vote language ID: >=2 English stopword hits -> 'en',
    1 -> 'en_maybe', else 'other'. (The real signal for the synthetic
    corpus is the ``lang`` column; this demonstrates the n-gram/stopword
    classifier shape with deterministic, engine-portable logic.)
    """
    toks = F.split(text, " ")
    hits = None
    for w in EN_STOPWORDS:
        h = F.when(F.array_contains(toks, w), 1).otherwise(0)
        hits = h if hits is None else hits + h
    return (
        F.when(hits >= 2, F.lit("en"))
        .when(hits == 1, F.lit("en_maybe"))
        .otherwise(F.lit("other"))
    )


def structural_fingerprint(line: Column) -> Column:
    """Structural log fingerprint: mask numbers, hash the template.

    Reference clusters log messages by shape via a tokenizing trie
    (internal/oteltools/pkg/fingerprinter); the portable equivalent
    masks variable parts (digit runs) and hashes the residual template.
    """
    template = F.regexp_replace(line, "[0-9]+", "#")
    return F.md5(template)


# --------------------- rolling-hash document fingerprints -------------------

# modulus keeps the polynomial fold inside BIGINT on every engine
# (h < MOD, so h*31 + ascii < 2^35; DuckDB BIGINT overflow would error)
ROLLING_MOD = 1_000_000_007


def _rolling_hash_sql(expr: str) -> str:
    """Portable polynomial rolling hash of a string: fold h = (h*31+c) % MOD.

    Identical arithmetic is expressible in DuckDB (list_reduce) — see
    the dd6 oracle — so fingerprints are cross-engine exact.
    """
    return (
        f"aggregate(transform(split({expr}, ''),"
        f" c -> CAST(ascii(c) AS BIGINT)), 0L,"
        f" (h, c) -> (h * 31 + c) % {ROLLING_MOD})"
    )


_WINNOW_TOKEN_RE = None  # compiled lazily inside the Arrow worker


def _winnow_batch(texts, k: int, w: int):
    """Vectorized winnow of one Arrow batch: (kept-row indices, fps).

    BIT-IDENTICAL integer arithmetic to the HOF chain in
    :func:`winnow_fingerprints` (and therefore to the DuckDB oracle):
    the same ``[^a-z0-9]+`` tokenization, the same per-token
    ``(h*31+c) % MOD`` char fold + ``(f*f+f) % MOD`` quadratic mix, the
    same k-gram 31-fold and w-window minima — all exact int64 (every
    intermediate < 2^63: h < MOD ≈ 1e9 so h*31+c < 2^35 and f*f+f <
    2^60), position-stepped across the whole batch in numpy. Tokens are
    ``[a-z0-9]``-pure BY CONSTRUCTION of the regex sub, so the ASCII
    byte view equals Spark's ``ascii()`` per char. Pinned equal to the
    JVM engine on the live corpus and an edge corpus by
    tests/test_dataprep_ops.py::test_winnow_engines_equal.
    """
    import re  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    global _WINNOW_TOKEN_RE
    if _WINNOW_TOKEN_RE is None:
        _WINNOW_TOKEN_RE = re.compile(r"[^a-z0-9]+")
    all_tokens: list[str] = []
    tok_counts: list[int] = []
    keep_idx: list[int] = []
    for i, txt in enumerate(texts):
        if txt is None:
            continue
        toks = _WINNOW_TOKEN_RE.sub(" ", txt.lower()).strip().split(" ")
        toks = [t for t in toks if t]  # empty text yields [""]
        if len(toks) < k:
            continue
        all_tokens.extend(toks)
        tok_counts.append(len(toks))
        keep_idx.append(i)
    if not tok_counts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    m = np.asarray(tok_counts, dtype=np.int64)
    buf = np.frombuffer(
        "".join(all_tokens).encode("ascii"), dtype=np.uint8
    ).astype(np.int64)
    lens = np.fromiter(
        (len(t) for t in all_tokens), np.int64, len(all_tokens)
    )
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    th = np.zeros(len(all_tokens), np.int64)
    for j in range(int(lens.max())):
        mask = lens > j
        th[mask] = (th[mask] * 31 + buf[offs[mask] + j]) % ROLLING_MOD
    th = (th * th + th) % ROLLING_MOD
    # gram folds: doc with m tokens has g = m-k+1 gram positions
    g = m - k + 1
    doc_off = np.concatenate(([0], np.cumsum(m)[:-1]))
    total_g = int(g.sum())
    g_doc = np.repeat(np.arange(len(m)), g)
    g_within = np.arange(total_g) - np.repeat(
        np.concatenate(([0], np.cumsum(g)[:-1])), g
    )
    starts = doc_off[g_doc] + g_within
    gh = np.zeros(total_g, np.int64)
    for j in range(k):
        gh = (gh * 31 + th[starts + j]) % ROLLING_MOD
    # w-window minima; docs with g < w emit the single min of all grams
    nw = np.maximum(g - w + 1, 1)
    gh_off = np.concatenate(([0], np.cumsum(g)[:-1]))
    total_w = int(nw.sum())
    w_doc = np.repeat(np.arange(len(m)), nw)
    w_within = np.arange(total_w) - np.repeat(
        np.concatenate(([0], np.cumsum(nw)[:-1])), nw
    )
    wstarts = gh_off[w_doc] + w_within
    wmin = gh[wstarts].copy()
    eff = np.minimum(np.repeat(g, nw), w)
    for j in range(1, w):
        mask = eff > j
        wmin[mask] = np.minimum(wmin[mask], gh[wstarts[mask] + j])
    # per-doc distinct: fp < MOD < 2^31, pack (doc, fp) into one int64
    key = np.unique(w_doc.astype(np.int64) * (1 << 31) + wmin)
    doc_idx = key >> 31
    fps = key & ((1 << 31) - 1)
    return np.asarray(keep_idx, dtype=np.int64)[doc_idx], fps


def _winnow_arrow_fn(id_col: str, k: int, w: int):
    """mapInArrow body for the vectorized winnow engine."""

    def fn(batches):
        import pyarrow as pa  # noqa: PLC0415

        for batch in batches:
            ids = batch.column(0)
            doc_idx, fps = _winnow_batch(batch.column(1).to_pylist(), k, w)
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(doc_idx)), pa.array(fps, type=pa.int64())],
                names=[id_col, "fingerprint"],
            )

    return fn


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    engine: str = "arrow",
) -> DataFrame:
    """Winnowed rolling-hash document fingerprints (one row per print).

    The winnowing scheme (Schleimer/Wilkerson/Aiken, SIGMOD 2003): hash
    every k-token gram with a rolling hash, slide a window of w
    consecutive gram hashes, keep the minimum of each window, dedupe.
    Guarantees any shared run of >= k+w-1 tokens yields a shared
    fingerprint, at ~1/w storage of full shingling.

    All array expressions (no UDF): tokens -> per-token hash -> gram
    fold -> windowed min -> distinct. Docs with fewer than k tokens
    emit no fingerprints; with fewer than w grams they emit the single
    min.

    Each token is char-folded ONCE, and a gram hash is the 31-fold of
    its k token hashes — not a char fold of the materialized gram
    string. Per gram position that is k integer ops instead of
    ~k*token_len char ops plus a string allocation; the hash quality
    (polynomial mod a large prime) and the winnowing guarantee are
    unchanged, only the fingerprint VALUES differ (the dd6/dd11
    oracles fold identically).

    ``engine="arrow"`` (default, r12): the whole tokenize→fold→window
    pipeline runs batch-vectorized in numpy behind one ``mapInArrow``
    seam (guide §4.2) over just (id, text) — projected first so only
    those columns cross the boundary — with the scan spread to the
    session's core count first (:func:`spread_small_scan`; the HOF
    chain is scan-adjacent, so a single-row-group input otherwise
    serializes it on one task). Bit-identical values (exact int64
    arithmetic, see :func:`_winnow_batch`): same-window probe jvm
    10.3-11.0s → arrow 1.5-1.8s on the 10x corpus.
    ``engine="jvm"`` keeps the HOF chain (the equivalence witness and
    the oracle's structural twin).
    """
    if engine == "arrow":
        from lakerunner_spark.operators.skew import (  # noqa: PLC0415
            spread_small_scan,
        )

        id_t = df.schema[id_col].dataType.simpleString()
        return spread_small_scan(df.select(id_col, text_col)).mapInArrow(
            _winnow_arrow_fn(id_col, k, w),
            f"{id_col} {id_t}, fingerprint bigint",
        )
    toks = F.expr(
        f"filter(split(trim(regexp_replace(lower({text_col}),"
        f" '[^a-z0-9]+', ' ')), ' '), t -> t != '')"
    )
    # Spark's sequence(1, 0) counts DOWN ([1, 0]) — docs with fewer than
    # k tokens are dropped before the gram sequence is built
    d = df.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") >= k
    )
    # Quadratic mix after the char fold: the fold alone is affine in
    # the trailing chars, so near-sequential tokens ("tok1","tok2",…)
    # yield arithmetic-progression hashes whose gram folds defeat the
    # winnowing window (observed retention 0.93 vs the expected
    # 2/(w+1)≈0.4 on a sequential-token fixture). (f*f + f) mod p
    # breaks the AP structure; f < p ≈ 1e9 keeps f*f inside int64.
    th = F.expr(
        f"transform(transform(_toks, t -> {_rolling_hash_sql('t')}),"
        f" f -> (f * f + f) % {ROLLING_MOD})"
    )
    d = d.select(id_col, th.alias("_th"))
    gh = F.expr(
        f"transform(sequence(1, size(_th) - {k - 1}),"
        f" i -> aggregate(slice(_th, i, {k}), 0L,"
        f"               (h, c) -> (h * 31 + c) % {ROLLING_MOD}))"
    )
    d = d.select(id_col, gh.alias("_gh"))
    wins = F.expr(
        f"CASE WHEN size(_gh) >= {w} THEN"
        f" transform(sequence(1, size(_gh) - {w - 1}),"
        f"           j -> array_min(slice(_gh, j, {w})))"
        f" ELSE array(array_min(_gh)) END"
    )
    # no row-level distinct: array_distinct already dedupes within the
    # doc and a fingerprint row is (doc, fp) — a DataFrame .distinct()
    # here would be a semantically-redundant full shuffle
    return d.select(
        id_col, F.explode(F.array_distinct(wins)).alias("fingerprint")
    )


# ------------------------------- PII scrub ---------------------------------

# Patterns deliberately restricted to the syntax subset where Java regex
# (Spark) and RE2 (DuckDB/Go) agree exactly — explicit character classes,
# bounded repetition, no lookaround, no backreferences — so the scrub is
# engine-portable and the DuckDB oracle reproduces it byte-for-byte.
# Ordering matters: EMAIL first (its local part may contain digits a
# PHONE pattern would nibble), then IPV4 (dotted digits PHONE would
# partially eat), PHONE last.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?", "<PHONE>"),
]


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (before scrubbing): {kind: count}.

    NULL text counts 0 for every kind (without the guard, ``F.size`` of
    the NULL extract result returns -1 under Spark's sizeOfNull default,
    deflating downstream sums)."""
    return {
        kind: F.when(text.isNull(), F.lit(0)).otherwise(
            F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        )
        for kind, pat, _ in PII_PATTERNS
    }


def pii_scrub(text: Column) -> Column:
    """Mask emails / IPv4s / phone numbers with typed placeholder tokens.

    Pure chained regexp_replace — whole-stage codegen, no UDF — applied
    in PII_PATTERNS order so overlapping matches resolve
    deterministically on every engine.
    """
    out = text
    for _, pat, mask in PII_PATTERNS:
        out = F.regexp_replace(out, pat, mask)
    return out


def dup_ngram_ratio(text_expr: str, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats within the document —
    the Gopher-style repetition signal (Rae et al. 2021 use duplicate
    line/paragraph/n-gram fractions to drop degenerate pages).

    ratio = 1 - distinct_grams / total_grams; documents with fewer than
    `n` tokens have no grams and score 0.0. `text_expr` is a SQL
    expression string (usually a column name).

    Pure higher-order array expression evaluated per row inside
    whole-stage codegen — unlike the dedup shingle path there is NO
    explode and NO shuffle, so at 100 TB this runs as a narrow map over
    the corpus scan and the only shuffle is whatever tiny aggregate the
    caller adds on top. The outer single-element transform() binds the
    token array to a lambda variable so split() is evaluated once.
    """
    concat_args = ", ' ', ".join(f"_t[i+{j}]" for j in range(n))
    return F.expr(
        f"transform(array(split({text_expr}, ' ')), _t -> "
        f"CASE WHEN size(_t) < {n} THEN CAST(0.0 AS DOUBLE) ELSE "
        f"1.0 - size(array_distinct(transform(sequence(0, size(_t) - {n}), "
        f"i -> concat({concat_args})))) / "
        f"CAST(size(_t) - {n - 1} AS DOUBLE) END)[0]"
    )


# HTML boilerplate stripping: (pattern, replacement) stages applied in
# order. Patterns use only the Java/RE2-common subset (inline (?is)
# flags, non-greedy spans, NO backreferences — RE2 has none), so the
# identical strings drive Spark and the DuckDB oracle ('g' flag there).
HTML_STRIP_STAGES: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script>", " "),   # active content first
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    # truncated pages: an UNCLOSED script/style block runs to EOF —
    # without this fallback its raw code leaks into the clean text
    (r"(?is)<script\b[^>]*>.*$", " "),
    (r"(?is)<style\b[^>]*>.*$", " "),
    (r"(?s)<!--.*?-->", " "),                     # comments
    (r"(?i)<[a-z!/][^>]*>", " "),                 # any remaining tag
    # entity decode: &amp; LAST — decoding it first double-unescapes
    # author-escaped text like '&amp;lt;' into live markup
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"\s+", " "),                                # collapse whitespace
]


def strip_html(text: Column) -> Column:
    """Web-corpus cleaning: drop script/style/comment blocks, strip
    tags, decode the common entities, collapse whitespace — a narrow
    chained-regexp_replace pass (whole-stage codegen, no UDF), the
    standard first stage of an HTML crawl -> pretraining-text pipeline.
    Not a full HTML5 parser: CDATA and exotic entities pass through;
    for tag soup the tag regex errs toward removal."""
    c = text
    for pat, rep in HTML_STRIP_STAGES:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


def strip_html_sql(expr: str) -> str:
    """DuckDB twin of :func:`strip_html` — same stages, 'g' flag."""
    c = expr
    for pat, rep in HTML_STRIP_STAGES:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''").replace("\\", "\\\\")
        c = f"regexp_replace({c}, '{p}', '{r}', 'g')"
    return f"trim({c})"


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_mod: int = 7,
    vocab_k: int = 500,
) -> DataFrame:
    """Unigram language-model quality score (the CCNet/KenLM-style
    signal: documents whose token distribution diverges from the
    corpus read as noise): per document, the mean negative log2
    probability of its tokens under an add-one-smoothed unigram model.

    The model trains on a DETERMINISTIC hash-slice of the corpus
    (``doc_id % sample_mod == 0`` — at 100 TB you never aggregate the
    full corpus to build a vocabulary) and keeps the top ``vocab_k``
    tokens by (count desc, token asc); everything else scores as one
    shared OOV class: p(tok) = (cnt + 1) / (total + K + 1), p(oov) =
    1 / (total + K + 1).

    Plan: the vocabulary is two small aggregations over the sample
    slice; scoring explodes tokens map-side (Generate, no shuffle),
    broadcast-joins the <=K-row vocabulary, and aggregates per doc —
    ONE shuffle on the doc key for the whole corpus pass. Returns
    (id_col, n_tokens, avg_neg_log2) with the score pround-ed to 6 dp
    (summation-order jitter is ~1e-12 on a ~10-magnitude mean).
    """
    from lakerunner_spark.functions.rounding import portable_round

    toks = F.expr(
        f"filter(split(trim(regexp_replace(lower({text_col}),"
        f" '[^a-z0-9]+', ' ')), ' '), t -> t != '')"
    )
    # A 24k-doc batch: a full-row spread ahead of this map-side-
    # collapsing aggregation cost txt9 x2.7 at sf0.1 (r12), so the
    # sf0.1 corpus stays un-spread; from sf1 up (3 tasks at 50k docs)
    # the tokenize pays for the shuffle (SPREAD_AUDIT.md).
    from lakerunner_spark.operators.skew import spread_small_scan

    tokens = spread_small_scan(
        df.select(F.col(id_col), F.col(text_col)), rows_per_part=24576
    ).select(F.col(id_col), F.explode(toks).alias("tok"))
    sample = tokens.filter(F.col(id_col) % sample_mod == 0)
    counts = sample.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(vocab_k)
    )
    # total tokens in the sample slice + smoothing mass (K + 1 classes).
    # Summed from the per-token counts — the count of sample tokens IS
    # sum(cnt), exactly — so the sample is tokenized once, not once for
    # the vocabulary and again for the total (r13; the second pass was
    # 0.9s of txt12s' sf10 wall, and both consumers now share the
    # counts exchange).
    totals = counts.agg(F.sum("cnt").alias("_total"))
    scored = (
        tokens.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            (
                -F.log2(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("_total") + F.lit(float(vocab_k + 1)))
                )
            ).alias("_nl2"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        portable_round(F.avg("_nl2"), 6).alias("avg_neg_log2"),
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    topk: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) smoothing) for a fixed
    query-term list. Returns the top ``topk`` (id_col, n_matched,
    score) by 6-dp-rounded score, id tiebreak.

    Shuffle-free scoring: per-document term frequencies are array
    expressions over the token array (no explode, no groupBy), the
    corpus stats (N, avgdl, per-term df) reduce to ONE broadcast row
    holding an idf map, and the final ranking is a global top-k
    (TakeOrderedAndProject — per-partition heads, driver merge). The
    corpus is scanned twice (stats pass + scoring pass); at 100 TB the
    stats pass runs on the same scan the quality pipeline already
    makes, or df comes from the persisted vocabulary table.
    """
    if not query_terms:
        raise ValueError("bm25_rank: query_terms must be non-empty")
    toks = F.expr(
        f"filter(split(trim(regexp_replace(lower({text_col}),"
        f" '[^a-z0-9]+', ' ')), ' '), t -> t != '')"
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    d = df.select(F.col(id_col), toks.alias("_toks")).select(
        id_col,
        F.size("_toks").alias("_dl"),
        F.transform(
            terms,
            lambda t: F.size(F.filter(F.col("_toks"), lambda x: x == t)),
        ).alias("_tf"),
    )
    # one broadcast row: N, avgdl, and the per-term idf map (df counts
    # whole documents containing the term)
    stats = d.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col("_tf")[i] > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    ).select(
        "_n",
        "_avgdl",
        F.map_from_arrays(
            terms,
            F.array(*[
                F.log(
                    1.0
                    + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5))
                    / (F.col(f"_df{i}") + F.lit(0.5))
                )
                for i in range(len(query_terms))
            ]),
        ).alias("_idf"),
    )
    scored = d.crossJoin(F.broadcast(stats)).select(
        id_col,
        F.aggregate(
            F.transform(F.col("_tf"), lambda tf: (tf > 0).cast("int")),
            F.lit(0),
            lambda a, v: a + v,
        ).alias("n_matched"),
        F.expr(
            f"aggregate(zip_with(array({', '.join(repr(t) for t in query_terms)}),"
            # the Lucene defaults k1 = 1.2, b = 0.75
            " _tf, (t, tf) -> _idf[t] * tf * 2.2"
            " / (tf + 1.2 * (1.0 - 0.75 + 0.75 * _dl / _avgdl))),"
            f" 0.0D, (a, v) -> a + v)"
        ).alias("_score"),
    )
    from lakerunner_spark.functions.rounding import portable_round

    return (
        scored.filter(F.col("n_matched") > 0)
        .select(
            id_col,
            "n_matched",
            portable_round(F.col("_score"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(topk)
    )


def paragraph_dedup(text: Column) -> Column:
    """Intra-document repeated-paragraph removal (the MassiveText/
    Gopher cleaning step: crawl boilerplate repeats whole paragraphs
    inside one document): split on the blank-line paragraph separator,
    keep each paragraph's FIRST occurrence in order, rejoin. Pure array
    expressions — array_distinct preserves first-occurrence order in
    Spark; the DuckDB oracle states the same semantics with an
    index-position filter (its list_distinct does NOT preserve order).
    F.split takes a Java regex, so the separator is \\Q..\\E-quoted
    there and passed verbatim to the literal concat_ws rejoin.
    """
    parts = F.split(text, "\\Q\n\n\\E")
    return F.concat_ws("\n\n", F.array_distinct(parts))


def paragraph_dedup_sql(text_sql: str) -> str:
    """DuckDB twin of :func:`paragraph_dedup` (first-occurrence order
    via list_position index filter)."""
    ps = f"string_split({text_sql}, chr(10) || chr(10))"
    kept = f"list_filter({ps}, (x, i) -> list_position({ps}, x) = i)"
    return f"array_to_string({kept}, chr(10) || chr(10))"
