"""Text-analysis operators for training-data pipelines.

Everything here is built-in-function expressions (JVM/codegen, no Python in
the hot path) — at 100 TB these run as map-only passes over the documents
table with full column pruning: the scan reads only (id, text).

Operators: normalization, tokenization, token counting (whitespace + BPE-ish
estimate), document fingerprinting, quality scoring, and n-gram/stopword
language ID.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_util_spark.functions.windows import constant_partition_key

# small marker-stopword sets per language; ordered precedence for ties
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "y", "es", "una"),
}

EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for")


def normalize_text(col: Column) -> Column:
    """lowercase, strip non-alphanumerics, collapse runs of spaces, trim —
    the canonical form used for fingerprinting and shingling."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """non-empty whitespace tokens of the raw text."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def whitespace_token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_estimate(col: Column) -> Column:
    """BPE-ish token-count estimate: ~4 chars/token (the industry rule of
    thumb); an upper bound mixing word and char signals."""
    return F.ceil(F.length(col) / F.lit(4)).cast("bigint")


# the BPE pre-tokenizer shape: alpha runs, digit runs, and lone symbols each
# count as one token.  ONE definition, with a generated SQL twin, shared by
# every token-counting query (token_count_regex, corpus_token_budget,
# corpus_budget_cut, padding_waste_report, mixture_budget_execution) so a
# regex tweak can never silently desynchronize their tokenization.
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def regex_token_count(col: Column) -> Column:
    """Exact regex token count (bigint) under :data:`BPE_TOKEN_REGEX`."""
    return F.size(
        F.regexp_extract_all(col, F.lit(BPE_TOKEN_REGEX), F.lit(0))
    ).cast("bigint")


def regex_token_count_sql(expr: str) -> str:
    """DuckDB SQL computing exactly :func:`regex_token_count`."""
    return (
        f"CAST(len(regexp_extract_all({expr}, "
        f"'{BPE_TOKEN_REGEX}')) AS BIGINT)"
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Robust to case/punctuation/whitespace jitter — the 'same document,
    different formatting' dedup key."""
    return F.md5(normalize_text(col))


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, "[^a-zA-Z0-9 ]", "")
    # greatest(...,1): empty text is 0/1 = 0.0, not an ANSI divide-by-zero
    return (F.length(col) - F.length(stripped)) / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    # let-bind the token array: hits and the denominator both read it (the
    # split+filter would otherwise run twice per row — higher-order lambdas
    # are CodegenFallback, so subexpression elimination never merges them)
    from cassandra_util_spark.functions import let_bind

    return let_bind(
        tokens(F.lower(col)),
        lambda toks: F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
        / F.greatest(F.size(toks), F.lit(1)),
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: enough tokens, natural stopword
    density, low punctuation noise.  Mirrors the shape of C4/Gopher-style
    filters; each term is a cheap expression."""
    n_tok = whitespace_token_count(col).cast("double")
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * F.lit(4.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(5.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * length_term + F.lit(0.3) * stop_term + F.lit(0.3) * punct_term, 6
    )


def _marker_hits_of(toks: Column, lang: str) -> Column:
    markers = LANG_MARKERS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_id(col: Column) -> Column:
    """Marker-stopword language ID: argmax of per-language marker hits with
    fixed precedence en>de>fr>es; no hits ⇒ 'und' (undetermined).

    Two let-bindings keep the work linear: the token array is built ONCE
    (not once per language — the split+filter is the expensive tree), and
    the four hit counts are staged as one int array so the argmax
    when-chain reads attributes instead of re-scanning the tokens (each
    count appears 3-4 times across the branches)."""
    from cassandra_util_spark.functions import let_bind

    def argmax(h: Column) -> Column:
        en, de = F.element_at(h, 1), F.element_at(h, 2)
        fr, es = F.element_at(h, 3), F.element_at(h, 4)
        return (
            F.when(en + de + fr + es == 0, F.lit("und"))
            .when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
            .when((de >= fr) & (de >= es), F.lit("de"))
            .when(fr >= es, F.lit("fr"))
            .otherwise(F.lit("es"))
        )

    return let_bind(
        tokens(F.lower(col)),
        lambda toks: let_bind(
            F.array(*[_marker_hits_of(toks, lg) for lg in ("en", "de", "fr", "es")]),
            argmax,
        ),
    )


# PII patterns, applied in THIS order (email first — its local part may look
# like a phone; IPv4 before phone — dotted digit runs would otherwise match
# the phone pattern).  Restricted to syntax shared verbatim by Java regex
# (Spark) and RE2 (DuckDB, 'g' flag): classes, bounded repeats, \b, (?:...).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Replace emails, SSNs, IPv4 addresses, and phone-shaped digit runs
    with typed placeholders — the standard pre-training scrub pass.

    A chain of regexp_replace expressions: map-only, whole-stage codegen,
    order-sensitive (see PII_PATTERNS).  This is pattern-based redaction —
    the deterministic floor every corpus gets; NER-based PII (names,
    addresses) is a model pass that layers on top via mapInPandas, outside
    this operator's scope."""
    c = col
    for _, pattern, replacement in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, replacement)
    return c


def _norm_tokens(col: Column) -> Column:
    """non-empty tokens of the normalized text (the repetition-stat basis)."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: t != "")


def top_token_fraction(col: Column) -> Column:
    """Fraction of the document taken by its single most frequent token —
    the Gopher-style "most common word" repetition signal (a natural English
    page sits near the stopword ceiling ~0.06-0.1; templated/spammy pages
    spike far above).

    Pure expression: distinct-tokens × occurrence-count inside codegen,
    O(d·n) per row — the right trade for web-document lengths because it
    keeps the pass map-only.  For book-length documents the explode +
    groupBy(id, token) + max/sum formulation replaces it (one shuffle,
    linear per row); same output, swap at the caller.
    """

    def frac_of(toks: Column) -> Column:
        counts = F.transform(
            F.array_distinct(toks), lambda t: F.size(F.filter(toks, lambda x: x == t))
        )
        return F.when(
            F.size(toks) > 0, F.array_max(counts) / F.size(toks)
        ).otherwise(F.lit(0.0))

    return F.transform(F.array(_norm_tokens(col)), frac_of)[0]


def duplicate_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram
    (1 - distinct/total) — the Gopher "duplicate n-gram" boilerplate signal.
    0.0 for documents with fewer than n words."""

    def frac_of(toks: Column) -> Column:
        count = F.size(toks) - F.lit(n - 1)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(count, F.lit(1)) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        return F.when(
            count >= 1,
            F.lit(1.0) - F.size(F.array_distinct(grams)) / count,
        ).otherwise(F.lit(0.0))

    return F.transform(F.array(_norm_tokens(col)), frac_of)[0]


def repetition_profile(df: DataFrame, id_col: str, text_col: str,
                       top_token_max: float = 0.12,
                       dup_bigram_max: float = 0.06) -> DataFrame:
    """Per-document repetition stats + a combined boilerplate flag, one
    map-only pass (both signals fuse into the same codegen stage)."""
    t = F.col(text_col)
    top = F.round(top_token_fraction(t), 6)
    dup = F.round(duplicate_ngram_fraction(t, 2), 6)
    return df.select(
        F.col(id_col),
        top.alias("top_token_frac"),
        dup.alias("dup_bigram_frac"),
        ((top > top_token_max) | (dup > dup_bigram_max)).alias("repetitive"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf·idf:
    (id, term, score, rank).

    idf is the BM25-style rational form ``(N - df + 0.5) / (df + 0.5)`` —
    deliberately log-free: every input is a small integer, so the double
    arithmetic is IEEE-exact and bit-identical across engines (libm ``ln``
    is only correct to ~1 ulp, which can flip a rank at a tie boundary).
    Ranking tiebreaks on the term itself, making the output total-ordered.

    Plan shape at scale: explode → groupBy(id, term) with map-side partial
    counts (one shuffle), materialized ONCE (localCheckpoint — three
    consumers follow: doc-frequency agg, corpus count, and the scored join;
    without it Catalyst re-runs the scan+explode per consumer, measured as
    a 3-scan / 10-exchange plan).  Document frequencies are a groupBy(term)
    over the tf table — partial aggregation keeps hot terms ('the')
    skew-safe, which a count-over-window-by-term would not.  The df-table
    join carries NO broadcast hint: the table is one row per distinct
    corpus term — an unbounded vocabulary at 100 TB — so the join strategy
    is left to AQE, which broadcasts while the measured size allows and
    shuffle-joins beyond (both sides key on the term).  N joins in as a
    broadcast 1-row aggregate; top-k is a per-id window.  At warehouse
    scale the checkpoint becomes a persisted tf table (same pattern as the
    MinHash signature table, dedup.py).
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(_norm_tokens(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "score", "rank")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval for one query over the corpus:
    (id, score, rank) for the ``k`` best documents.

    Scoring follows BM25's two levers — tf saturation
    ``tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))`` and document-length
    normalization — but the idf factor is the RATIONAL form
    ``(N - df + 0.5) / (df + 0.5)`` without the log, the
    :func:`tfidf_top_terms` discipline: the textbook ``ln`` is monotone in
    this ratio (per-term ranking is unchanged) while libm logs are only
    ~1-ulp-correct and engine-specific, which can flip a rank at a tie
    boundary.  Per-term scores are scaled to integers (``round(s·10^9)``
    as bigint — one correctly-rounded double product and a half-away
    round, identical in any engine) and summed EXACTLY — order-free under
    any partitioning, with none of the double→decimal conversion
    subtleties a DECIMAL(38,9) sum would reintroduce — then the document
    score is two final correctly-rounded double divisions and a 6dp round,
    so the output hash-matches an independent engine bit for bit.

    Plan shape at scale: the query-term IN-list is a LITERAL predicate
    folded into the scan (rows for non-query terms never leave the explode
    stage), so the tf table is bounded by |query| rows per document; the
    document-frequency table is at most |query| rows (broadcast — bounded
    by the QUERY, not the corpus, unlike the tfidf df-table); (N, Σdl)
    broadcast as a 1-row aggregate.  One shuffle on (id, term) with
    map-side partial counts, one on id for the final sum; the top-k window
    ranks |matching docs| rows with a total (score desc, id) tiebreak.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qt = [t.lower() for t in query_terms]
    # ONE normalize+tokenize pass feeding both consumers (corpus stats and
    # the query-term tf): evaluating the regex subtree per consumer was the
    # whole cost of the first version (measured 3.6s -> 1.2s at sf0.1).  At
    # warehouse scale this projection is the persisted tokenized view the
    # retrieval index is built from (the minhash signature-table pattern).
    base = (
        df.select(F.col(id_col).alias("id"), _norm_tokens(F.col(text_col)).alias("toks"))
        .withColumn("dl", F.size("toks"))
        .localCheckpoint(eager=False)
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        base.select("id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(qt))
        .groupBy("id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # expression order mirrored verbatim in the SQL oracle: every
    # intermediate is double with the same association, so each IEEE op
    # rounds identically on both engines
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    sat = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("id", F.round(idf * sat * F.lit(1.0e9)).cast("bigint").alias("s9"))
    )
    from pyspark.sql import Window

    scored = per_term.groupBy("id").agg(
        F.round(F.sum("s9").cast("double") / F.lit(1.0e9), 6).alias("score")
    )
    # global top-k via orderBy+limit — TakeOrderedAndProject keeps partial
    # top-k per partition and merges k rows on the driver (scale-safe); the
    # unpartitioned rank window then runs over k rows only, never the corpus
    top = scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)
    # constant-key partitionBy (non-foldable; see functions/windows.py):
    # same single-partition frame over the <=k post-limit rows, without
    # the WindowExec no-partition WARN
    w = Window.partitionBy(constant_partition_key(F.col("id"))).orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("id").alias(id_col), "score", "rank"
    )


def bm25_batch_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Batch BM25: top-``k`` documents for EVERY query in a query table —
    the retrieval-evaluation / RAG-indexing shape, where thousands of
    queries score against one corpus in a single pass.

    ``queries`` is (query_id, terms array<string>); terms are matched
    against the NORMALIZED token stream (lowercase them).  Output:
    (query_id, id, score, rank) with the same scoring, integer-scaling,
    and rounding as :func:`bm25_topk` — a single-query batch reproduces
    bm25_topk's scores exactly.

    Plan shape at scale: the corpus tokenizes ONCE (shared projection);
    the exploded (term, query_id) table is bounded by the QUERY WORKLOAD
    (Σ|terms|) and broadcasts — the corpus explode joins it by term, so
    only tokens some query mentions survive the join (everything else
    dies map-side, the batch analog of the single-query IN-list).  Per-
    (query, doc) partial counts shuffle once; document frequencies come
    from the same tf table; ranking is one window keyed by query_id —
    parallel across queries, never a global sort.
    """
    from pyspark.sql import Window

    base = (
        df.select(F.col(id_col).alias("id"), _norm_tokens(F.col(text_col)).alias("toks"))
        .withColumn("dl", F.size("toks"))
        .localCheckpoint(eager=False)
    )
    stats = base.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
    # lowercase to match the normalized token stream — the same contract
    # bm25_topk applies to its term tuple, so a 1-query batch stays exact
    qterms = queries.select(
        F.col(query_id_col).alias("qid"),
        F.explode(F.transform(F.col(terms_col), F.lower)).alias("term"),
    ).distinct()
    tf = (
        base.select("id", "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("qid", "id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    # df(term) is query-independent: count each (term, doc) once even when
    # several queries share the term
    dfreq = (
        tf.select("term", "id").distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    sat = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", "id", F.round(idf * sat * F.lit(1.0e9)).cast("bigint").alias("s9"))
    )
    scored = per_term.groupBy("qid", "id").agg(
        F.round(F.sum("s9").cast("double") / F.lit(1.0e9), 6).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("id").alias(id_col),
            "score",
            "rank",
        )
    )


def rrf_fuse(
    runs: list[DataFrame],
    id_col: str,
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) of
    retrieval runs: ``score(d) = Σ_runs 1/(k0 + rank_run(d))`` — the
    standard hybrid-retrieval combiner (BM25 run + embedding run), robust
    to incomparable score scales because only RANKS enter the sum.

    Each run is (id, rank) with at most one row per id (a top-k result).
    Output: (id, n_runs, rrf_score, rank) for the fused top-``k``, ranked
    by score with an id tiebreak.  Per-run contributions integer-scale to
    ``round(1e9/(k0+rank))`` and sum exactly (the bm25_topk discipline), so
    fused scores are engine-exact under any partitioning and run order.

    Scale shape: inputs are top-k runs — already small; the fuse is one
    union + one groupBy(id) with map-side partials, and the final top-k is
    orderBy+limit (TakeOrderedAndProject) with the rank window over k rows.
    """
    if not runs:
        raise ValueError("runs must be non-empty")
    from functools import reduce

    from pyspark.sql import Window

    contrib = [
        r.select(
            F.col(id_col).alias("id"),
            F.round(
                (F.lit(1.0) / (F.lit(k0) + F.col(rank_col))) * F.lit(1.0e9)
            )
            .cast("bigint")
            .alias("c9"),
        )
        for r in runs
    ]
    fused = (
        reduce(lambda a, b: a.unionByName(b), contrib)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.round(F.sum("c9").cast("double") / F.lit(1.0e9), 6).alias("rrf_score"),
        )
    )
    top = fused.orderBy(F.col("rrf_score").desc(), F.col("id").asc()).limit(k)
    w = Window.partitionBy(constant_partition_key(F.col("id"))).orderBy(
        F.col("rrf_score").desc(), F.col("id").asc()
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("id").alias(id_col), "n_runs", "rrf_score", "rank"
    )


def retrieval_metrics(
    run: DataFrame,
    qrels: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """Per-query retrieval quality of a ranked ``run`` against relevance
    judgments: (query_id, n_rel, hits_at_k, recall_at_k, mrr_at_k) — the
    evaluation half of the retrieval loop (BM25/ANN/RRF produce runs;
    this scores them).

    ``run`` is (query_id, doc_id, rank); ``qrels`` is (query_id, doc_id)
    binary judgments.  recall@k = relevant retrieved in the top k / total
    relevant; MRR@k = 1/rank of the first relevant hit (0 when none).
    Every metric is one integer count or one rounded single division —
    engine-exact by construction.  Queries with judgments but no run rows
    score 0 (they count against macro averages, the standard trec_eval
    convention).

    Scale shape: both inputs are evaluation-scale (top-k runs × judged
    queries); one join keyed by (query, doc), two partial-aggregate
    shuffles keyed by query.  No hint on the join — AQE broadcasts the
    smaller side while its measured size allows.
    """
    r = run.filter(F.col(rank_col) <= k).select(
        F.col(query_id_col).alias("qid"),
        F.col(id_col).alias("id"),
        F.col(rank_col).alias("rnk"),
    )
    j = qrels.select(F.col(query_id_col).alias("qid"), F.col(id_col).alias("id"))
    n_rel = j.groupBy("qid").agg(F.count(F.lit(1)).alias("n_rel"))
    hit = r.join(j, ["qid", "id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("hits_at_k"),
        F.min("rnk").alias("first_rel"),
    )
    return (
        n_rel.join(hit, "qid", "left")
        .select(
            F.col("qid").alias(query_id_col),
            "n_rel",
            F.coalesce(F.col("hits_at_k"), F.lit(0)).cast("bigint").alias("hits_at_k"),
            F.round(
                F.coalesce(F.col("hits_at_k"), F.lit(0)) / F.col("n_rel"), 6
            ).alias("recall_at_k"),
            F.coalesce(F.round(F.lit(1.0) / F.col("first_rel"), 6), F.lit(0.0)).alias(
                "mrr_at_k"
            ),
        )
    )


def commonness_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document corpus-commonness — the exactly-reproducible surrogate
    for the LM-perplexity quality filter (CCNet's KenLM gate): documents of
    frequent, ordinary tokens score high; rare-token/garbage documents score
    low, and both tails are candidates for filtering.

    ``commonness = Σ_t tf(t)·df(t) / (n_tokens · N)`` where df(t) is the
    term's document frequency and N the corpus size.  The numerator and both
    denominator factors are INTEGER aggregates — the score is one final
    double division rounded to 6dp, so (like tfidf_top_terms' log-free idf)
    it is bit-identical across engines and partitionings; a mean of
    per-token log-probabilities would be neither (libm ulp + float summation
    order).

    Plan shape at scale: the same tf-table backbone as tfidf_top_terms —
    explode → groupBy(id, term) with map-side partial counts, materialized
    once; document frequencies via groupBy(term) (partial aggregation keeps
    'the'-scale hot terms skew-safe); N broadcasts as a 1-row aggregate.
    The df-table join is deliberately UNHINTED (one row per distinct corpus
    term — unbounded vocabulary; AQE broadcasts while small, shuffle-joins
    beyond).  Documents with zero tokens are excluded (no defined score).

    Output: (id, n_tokens, commonness); row order is not defined —
    aggregate outputs land in shuffle-partition order, so callers wanting a
    total order must sort.
    """
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_norm_tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("df")).alias("num"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.round(F.col("num") / (F.col("n_tokens") * F.col("n_docs")), 6).alias(
                "commonness"
            ),
        )
    )


# The eight Gopher repetition-gate stopwords (Rae et al. 2021, A1.1): a page
# must contain at least two to count as running English prose.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, appendix A1.1) —
    the named, published heuristic gate modern pretraining pipelines apply
    before any model-based filtering; defaults are the paper's thresholds.
    Complements :func:`quality_score` (a soft composite) with the standard
    hard rules, each signal exposed so a pipeline can re-threshold without
    recomputing:

    - word count in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - '#'/'...' symbols per word <= max_symbol_word_ratio
    - bullet-started lines <= max_bullet_line_frac of lines
    - ellipsis-ended lines <= max_ellipsis_line_frac of lines
    - words containing an alphabetic char >= min_alpha_word_frac
    - at least min_stop_hits of the eight Gopher stopwords present

    Output: (id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
    passes).  Pure expressions (map-only, codegen, column-pruned scan);
    ratios round to 6dp from integer numerators/denominators, so the gate
    frontier is engine-exact.

    Words split on ANY whitespace run (``\\s+``), not just spaces — a
    document written one word per line must count 60 words, not 1, or the
    word-count bound wrongly gates ordinary multi-line prose (the
    line-based signals below already treat newlines structurally).
    """
    t = F.col(text_col)
    # STAGE the word and line arrays as real columns (the span-staging
    # discipline, SCALING.md r14 note): four signals read the word array
    # and two read the line array, and higher-order lambdas are
    # CodegenFallback — unstaged, each reference re-splits the text
    staged = df.withColumn(
        "__toks", F.filter(F.split(t, r"\s+"), lambda x: x != "")
    ).withColumn("__lines", F.filter(F.split(t, "\n"), lambda l: l != ""))
    toks = F.col("__toks")
    lines = F.col("__lines")
    n_words = F.size(toks)
    denom = F.greatest(n_words, F.lit(1))
    word_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.substring(F.ltrim(l), 1, 1).isin("•", "-", "*"))
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda l: F.endswith(F.rtrim(l), F.lit("..."))
            | F.endswith(F.rtrim(l), F.lit("…")),
        )
    )
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]")))
    lower_toks = F.transform(toks, F.lower)
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(lower_toks, s),
        )
    )

    out = staged.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(word_chars / denom, 6).alias("mean_word_len"),
        F.round((n_hash + n_ellipsis) / denom, 6).alias("symbol_word_ratio"),
        F.round(bullet_lines / n_lines, 6).alias("bullet_line_frac"),
        F.round(ellipsis_lines / n_lines, 6).alias("ellipsis_line_frac"),
        F.round(alpha_words / denom, 6).alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("stop_hits"),
    )
    return out.withColumn(
        "passes",
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stop_hits") >= min_stop_hits),
    )


def commonness_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 3,
    mode: str = "exact",
) -> DataFrame:
    """CCNet-style corpus partitioning into quality tiers (Wenzek et al.
    2020 split Common Crawl into head/middle/tail by per-document LM
    perplexity tercile; :func:`commonness_score` is this engine's
    exactly-reproducible perplexity surrogate, so the tiers here are its
    terciles).  Pipelines then keep head+middle, or reweight by tier.

    Output: (id, commonness, bucket, tier) — bucket 1..K by DESCENDING
    commonness (bucket 1 = most ordinary prose = 'head'), tier named
    head/middle/tail when K=3, 'b<k>' otherwise.

    ``mode='exact'`` ranks with ntile over a TOTAL order (commonness desc,
    id asc — deterministic, oracle-matched) — a single-partition window,
    the contract-precision path.  ``mode='approx'`` is the 100 TB path: K-1
    approx_percentile cutoffs (one tiny aggregate, broadcast back) turn
    bucketing into a map-side comparison — no global sort; boundary docs
    may land one tier off (approx-quantile error), which tier-based
    sampling tolerates by construction.
    """
    from pyspark.sql import Window

    from cassandra_util_spark.functions.windows import constant_partition_key

    scored = commonness_score(df, id_col, text_col)
    if mode == "exact":
        # exact mode IS a global sort by design (the approx branch is the
        # 100 TB path); the non-foldable key keeps ntile's single group
        # semantically identical while giving WindowExec a real partition
        # spec (same treatment as every bounded global window — r11,
        # functions/windows.py)
        w = Window.partitionBy(constant_partition_key(F.col(id_col))).orderBy(
            F.col("commonness").desc(), F.col(id_col).asc()
        )
        out = scored.select(
            id_col,
            "commonness",
            F.ntile(buckets).over(w).cast("bigint").alias("bucket"),
        )
    elif mode == "approx":
        qs = [i / buckets for i in range(1, buckets)]
        cuts = scored.agg(
            F.percentile_approx("commonness", qs, 10_000).alias("cuts")
        )
        # bucket 1 holds the HIGHEST commonness: count how many cutoffs sit
        # at-or-above this row's score (cuts ascend, so descend them)
        out = scored.crossJoin(F.broadcast(cuts)).select(
            id_col,
            "commonness",
            (
                F.lit(buckets)
                - F.size(
                    F.filter(F.col("cuts"), lambda c: F.col("commonness") > c)
                )
            ).cast("bigint").alias("bucket"),
        )
    else:
        raise ValueError(f"unknown mode {mode!r}: exact | approx")
    tier = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        if buckets == 3
        else F.concat(F.lit("b"), F.col("bucket"))
    )
    return out.withColumn("tier", tier)


def adaptive_length_report(
    df: DataFrame,
    strata_col: str,
    length_col: str,
    id_col: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Per-stratum adaptive length gate: exact [lo_p, hi_p] percentile
    bounds of ``length_col`` within each stratum (e.g. language), plus how
    many documents the gate keeps.

    Fixed length thresholds are wrong across languages — 200 chars of
    Chinese is a full document, 200 chars of English is a fragment — so
    production gates derive bounds from each stratum's own distribution.
    Output: (stratum, lo, hi, n_docs, n_kept), bounds linearly
    interpolated (the definition both Spark's ``percentile`` and ANSI
    ``percentile_cont`` share) and rounded to 4dp so the frontier is
    engine-exact.

    Two partial aggregations over (stratum) — key-only shuffles; the
    per-doc gate itself is a broadcast of |strata| rows at any corpus
    size.  For the row-level filtered corpus, join these bounds back and
    keep ``length BETWEEN lo AND hi`` (see adaptive_length_filter).
    """
    pct = (
        df.groupBy(strata_col)
        .agg(
            F.round(F.percentile(F.col(length_col), F.lit(lo_p)), 4).alias("lo"),
            F.round(F.percentile(F.col(length_col), F.lit(hi_p)), 4).alias("hi"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    kept = (
        df.join(F.broadcast(pct.select(strata_col, "lo", "hi")), strata_col)
        .filter(F.col(length_col).between(F.col("lo"), F.col("hi")))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return pct.join(kept, strata_col, "left").select(
        strata_col,
        "lo",
        "hi",
        "n_docs",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
    )


def adaptive_length_filter(
    df: DataFrame,
    strata_col: str,
    length_col: str,
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Rows of ``df`` whose ``length_col`` falls inside the stratum's own
    [lo_p, hi_p] percentile band — the row-level companion of
    :func:`adaptive_length_report`.  One agg pass for the bounds (tiny:
    |strata| rows), then a broadcast-join gate; no row-level shuffle."""
    bounds = df.groupBy(strata_col).agg(
        F.round(F.percentile(F.col(length_col), F.lit(lo_p)), 4).alias("__lo"),
        F.round(F.percentile(F.col(length_col), F.lit(hi_p)), 4).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), strata_col)
        .filter(F.col(length_col).between(F.col("__lo"), F.col("__hi")))
        .drop("__lo", "__hi")
    )


def bigram_lm_score(
    df: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document average log-probability under a bigram LM with stupid
    backoff (Brants et al. 2007) trained on ``reference`` — the actual
    n-gram-LM form of the quality gate that :func:`commonness_score` only
    approximates with unigram document frequencies (CCNet's KenLM filter).

    Per adjacent token pair (w1, w2) of a scored document:

    - seen bigram:   ln( c(w1,w2) / c(w1) )
    - backoff:       ln( alpha * c(w2) / T )      (bigram unseen, w2 known)
    - OOV floor:     ln( alpha^2 / T )            (w2 unseen entirely)

    where counts come from the reference corpus and T is its total token
    count.  The score is the mean log-prob per transition; low = surprising
    under the reference (garbage or off-domain), high = ordinary prose.

    Cross-engine determinism: each transition's log term is integer-scaled
    at 1e9 and the per-document sum is an exact BIGINT sum (the bm25_topk
    pattern) — the only float steps are one ln() per DISTINCT (doc, bigram)
    and one final division, so partitioning never reorders a float sum.

    Plan shape at scale: both corpora tokenize once (map-only projections).
    Reference model = two count tables (bigram, unigram) built with partial
    aggregation — skew-safe on 'the'-scale heads.  Scored documents
    pre-aggregate to (id, w1, w2, tf) before joining, so the model joins
    touch distinct bigrams, not token instances.  Model tables are
    UNHINTED joins (unbounded vocabulary — AQE broadcasts while small,
    shuffle-joins beyond; the commonness_score df-table lesson).  Documents
    with fewer than 2 tokens have no transitions and are excluded.
    """
    toks = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda t: t != "")

    def bigrams(frame: DataFrame) -> DataFrame:
        t = frame.select(F.col(id_col).alias("id"), toks.alias("t")).filter(
            F.size("t") >= 2
        )
        return t.select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("bg"),
        ).select("id", "bg.w1", "bg.w2")

    ref_bg = bigrams(reference).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ref_uni = (
        reference.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    ref_total = ref_uni.agg(F.sum("c_uni").alias("t_total"))

    doc_bg = bigrams(df).groupBy("id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    c1 = ref_uni.select(F.col("w").alias("w1"), F.col("c_uni").alias("c1"))
    c2 = ref_uni.select(F.col("w").alias("w2"), F.col("c_uni").alias("c2"))

    term = (
        F.when(
            F.col("c12").isNotNull(), F.log(F.col("c12") / F.col("c1"))
        )
        .when(
            F.col("c2").isNotNull(),
            F.log(F.lit(alpha) * F.col("c2") / F.col("t_total")),
        )
        .otherwise(F.log(F.lit(alpha) * F.lit(alpha) / F.col("t_total")))
    )
    scaled = F.round(term * F.lit(1e9)).cast("bigint")

    return (
        doc_bg.join(ref_bg, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(c2, "w2", "left")
        .crossJoin(F.broadcast(ref_total))
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_transitions"),
            F.sum(F.col("tf") * scaled).alias("sum9"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_transitions",
            F.round(
                F.col("sum9").cast("double") / 1e9 / F.col("n_transitions"), 6
            ).alias("avg_logprob"),
        )
    )


def pii_report(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-wide PII audit: per pattern type, total match count and
    documents affected — the report that decides whether a feed needs the
    scrub at all, and the post-scrub zero-check.

    Counts follow the REDACTION CHAIN's view: pattern k is counted on the
    text with patterns 1..k-1 already replaced (the same order sensitivity
    redact_pii documents — an IPv4 must not double-count as a phone).
    Map-only per-doc counting + one |patterns|-row aggregate; the unpivot
    runs on the 1-row aggregate.
    """
    c = F.col(text_col)
    per_type = []
    names = []
    for name, pattern, replacement in PII_PATTERNS:
        names.append(name)
        per_type.append(
            F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0))).alias(name)
        )
        c = F.regexp_replace(c, pattern, replacement)
    per_doc = df.select(F.col(id_col).alias("id"), *per_type)
    aggs = []
    for name in names:
        aggs.append(F.sum(name).alias(f"{name}_n"))
        aggs.append(
            F.sum(F.when(F.col(name) > 0, 1).otherwise(0)).alias(f"{name}_docs")
        )
    wide = per_doc.agg(*aggs)
    stack_args = ", ".join(
        f"'{n}', `{n}_n`, `{n}_docs`" for n in names
    )
    return wide.select(
        F.expr(
            f"stack({len(names)}, {stack_args}) AS (pii_type, n_matches, n_docs)"
        )
    ).select(
        "pii_type",
        F.col("n_matches").cast("bigint").alias("n_matches"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def unicode_normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    form: str = "NFC",
    out_col: str = "text_nfc",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) of a text column — the
    multilingual-dedup prerequisite: 'é' as one codepoint and 'e'+combining
    acute are DIFFERENT bytes, so every hash-based method (fingerprints,
    shingles, MinHash) sees two distinct documents until normalization
    collapses them.

    Spark has no built-in Unicode normalizer, so this is a justified
    Arrow-batched ``mapInPandas`` pass (vectorized transfer, Python
    ``unicodedata`` per batch — map-only, no shuffle at any scale).
    ``unicodedata.normalize`` implements the same UAX #15 forms as DuckDB's
    ``nfc_normalize``, making the output oracle-verifiable byte-for-byte.
    """
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {out_col} string"

    def _norm(batches):
        for pdf in batches:
            yield type(pdf)(
                {
                    id_col: pdf[id_col],
                    out_col: pdf[text_col]
                    .fillna("")
                    .map(lambda t: unicodedata.normalize(form, t)),
                }
            )

    return df.select(id_col, text_col).mapInPandas(_norm, out_schema)
