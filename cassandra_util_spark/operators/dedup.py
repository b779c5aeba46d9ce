"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):
- exact dedup shuffles on a 256-bit digest, never on document text — the
  shuffle key is 32 bytes regardless of document size;
- near-dup never does all-pairs: candidates come from LSH band buckets
  (MinHash), bit-band buckets (SimHash), or shared-shingle joins with a
  document-frequency cap (Jaccard) — each bounds the join fan-out;
- every signature is computed with built-in expressions (md5-word portable
  hashes by default, xxhash64 opt-in; transform/aggregate over arrays) — no
  Python in the per-row path, and the default hash family is reproducible in
  any engine so signatures are oracle-verifiable end to end.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cassandra_util_spark.operators.text import normalize_text


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def content_digest(*cols: Column, binary: set[int] | None = None) -> Column:
    """Injective sha256 digest of the content tuple — 32-byte shuffle key.

    Each column is hashed separately and the fixed-width per-column hashes
    are joined and hashed again: boundary shifts (("ab","c") vs ("a","bc")),
    values containing the join separator, and null-vs-empty cannot collide,
    unlike a single hash over the raw concatenation (concat_ws skips NULLs).
    The NULL sentinel is not 64 hex chars, so it cannot equal any column hash.

    ``binary`` holds the positions (0-based) of BinaryType columns: those
    are hashed as raw bytes — casting bytes through string is a lossy UTF-8
    decode that would conflate invalid sequences.  Media payloads therefore
    dedup on their exact bytes.
    """
    binary = binary or set()
    parts = [
        F.coalesce(
            F.sha2(c if i in binary else c.cast("string"), 256), F.lit("null")
        )
        for i, c in enumerate(cols)
    ]
    return F.sha2(F.concat_ws("|", *parts), 256)


def _digest_for(df: DataFrame, content_cols: list[str]) -> Column:
    dtypes = dict(df.dtypes)
    binary = {i for i, c in enumerate(content_cols) if dtypes.get(c) == "binary"}
    return content_digest(*[F.col(c) for c in content_cols], binary=binary)


def exact_dedup(
    df: DataFrame,
    id_col: str,
    content_cols: list[str],
    prefer: Column | None = None,
) -> DataFrame:
    """Keep one row per identical content.  One shuffle, keyed by the
    digest; ties and ordering fully deterministic.  BinaryType content
    columns are hashed byte-exact (see content_digest).

    ``prefer`` selects WHICH copy survives: the row with the highest
    ``prefer`` value (ties → lowest id); default is lowest id.  Pointless
    when the digest covers the whole row (identical content ⇒ identical
    preference), but the survivor-quality lever when deduping on a
    normalized key — e.g. digest on ``fingerprint(text)`` with
    ``prefer=F.length("text")`` keeps the longest formatting variant, the
    standard keep-best-copy policy of web-corpus dedup."""
    digest = _digest_for(df, content_cols)
    order = ([prefer.desc()] if prefer is not None else []) + [F.col(id_col).asc()]
    w = Window.partitionBy("__digest").orderBy(*order)
    return (
        df.withColumn("__digest", digest)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__digest")
    )


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------

def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text (array<string>).

    The token array is let-bound through a single-element ``transform`` so the
    normalize+split subtree evaluates ONCE per row.  Referencing the subtree
    directly from the per-gram lambda re-evaluates regexp+split for every
    gram — measured 12x slower on the sf0.1 corpus (~50 grams/doc).
    """

    def grams_of(toks: Column) -> Column:
        count = F.size(toks) - F.lit(n - 1)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(count, F.lit(1)) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        return F.array_distinct(F.when(count >= 1, grams).otherwise(F.array()))

    return F.transform(F.array(F.split(normalize_text(col), " ")), grams_of)[0]


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact similarity on shingle sets)
# ---------------------------------------------------------------------------

def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """``(id, sh)`` exploded word-n-gram rows — the ONE construction of the
    shingle stream every shingle-set operator consumes (``word_shingles``
    is array_distinct per document, so rows are already unique per (id,
    sh)).  Exposed so a caller running BOTH an exact and an approximate
    shingle pipeline over the same corpus (the recall audits) can compute
    this once, pin it, and hand it to each side via their ``shingles=``
    parameter — one corpus scan + shingle pass instead of one per side
    (the two sides project differently, so Catalyst never reuses the scan
    across them)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
    )


def _shingle_source(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    shingles: DataFrame | None,
) -> DataFrame:
    """The shingle stream an operator consumes: its own :func:`shingle_rows`
    scan, or the injected ``shingles`` frame, which replaces that scan so
    ``id_col``/``text_col``/``n`` do not apply to it.  The injected frame
    must have exactly the ``(id, sh)`` columns (a schema check, no job)."""
    if shingles is None:
        return shingle_rows(df, id_col, text_col, n)
    if tuple(shingles.columns) != ("id", "sh"):
        raise ValueError(
            f"shingles= must be a shingle_rows() frame with columns "
            f"('id', 'sh'), got {tuple(shingles.columns)}"
        )
    return shingles


def _ngram_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
    shingles: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate machinery for the shingle-set similarity metrics:
    returns (inter, sizes) — per-pair common-shingle counts for every pair
    sharing at least one shingle, and per-doc distinct-shingle counts."""
    # word_shingles is array_distinct per document, so distinct() adds no
    # semantic dedup — but its shuffle IS the shared materialization point:
    # Catalyst's ReusedExchange feeds the same shuffle output to sizes and
    # BOTH self-join sides.  Removing it (2.5x slower) or replacing it with a
    # localCheckpoint (1.3x slower) re-runs or re-reads the scan+explode per
    # consumer.  Keep the distinct.
    sh = _shingle_source(df, id_col, text_col, n, shingles).distinct()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    if max_doc_freq is not None:
        # capped mode: drop stop-shingles, then emit each shingle's C(df,2)
        # pairs directly from its (bounded) postings list — one shuffle on the
        # shingle.  The cap is what keeps candidate volume near-linear on
        # web-scale corpora: a shingle shared by 10k docs would alone emit
        # 5*10^7 pairs.
        postings = (
            sh.groupBy("sh")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter((F.size("ids") > 1) & (F.size("ids") <= max_doc_freq))
        )
        pairs = postings.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.id_a", "p.id_b")
    else:
        # exact mode: self-join on the shingle — shuffles spread fat shingles
        # across tasks instead of materializing C(df,2) structs in one row
        # (measured: the postings-explode form is 2x SLOWER uncapped)
        a, b = sh.alias("a"), sh.alias("b")
        pairs = a.join(
            b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    inter = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))
    return inter, sizes


def _with_sizes(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    # no broadcast hint: sizes has one row per DOCUMENT — unbounded at
    # corpus scale (the commonness_score df-table lesson); AQE broadcasts
    # while its measured size allows and shuffle-joins beyond
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All pairs (a < b) with Jaccard(shingles_a, shingles_b) >= threshold.

    Candidates come from a self-join on shared shingles; ``max_doc_freq``
    drops stop-shingles (present in more than N docs) before the join — the
    knob that keeps candidate generation near-linear on web-scale corpora.
    ``shingles`` (optional) substitutes a precomputed/pinned
    :func:`shingle_rows` frame for the internal scan — same rows, shared
    corpus pass when another pipeline consumes the identical stream.
    Output: (id_a, id_b, jaccard rounded to 6dp).
    """
    inter, sizes = _ngram_pair_counts(
        df, id_col, text_col, n, max_doc_freq, shingles
    )
    jac = _with_sizes(inter, sizes).withColumn(
        "jaccard",
        F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING — output is row-identical to
    uncapped :func:`ngram_jaccard_pairs`, but candidates are generated only
    from each document's RAREST shingles (the AllPairs/PPJoin prefix filter:
    Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06).

    Theorem: under any global total order on shingles, two sets with
    Jaccard >= t must share a shingle within the first
    ``|A| - ceil(t*|A|) + 1`` elements of EACH side (if every common
    shingle sat past A's prefix, the overlap would be <= ceil(t*|A|)-1 <
    t*|A| <= t*|A∪B|).  Ordering by ascending document frequency makes
    those prefix shingles the rare ones, so hot shingles — the ones whose
    C(df,2) fan-out melts the plain self-join — never enter candidate
    generation from both sides.  Unlike ``max_doc_freq`` (which redefines
    the metric to ignore stop-shingles), the prefix filter is lossless:
    every surviving candidate is re-verified against the FULL shingle
    sets, so this is the uncapped semantics at near-capped cost — the
    exact-mode scale path.

    Candidate volume: sum over shingles of C(prefix_df, 2), where
    prefix_df counts only documents holding the shingle inside their
    prefix — bounded by rarity, not corpus size.  A shingle shared by
    10^6 documents contributes nothing unless it is among the rarest
    (1-t)*|doc| shingles of two documents at once.

    The per-document sorted shingle array is bounded by document length
    (the same row-width assumption ``word_shingles`` already makes), and
    the verification joins touch only surviving candidates.  The length
    filter (t*max <= min) is applied inside the candidate join; the final
    threshold filter reproduces ``ngram_jaccard_pairs``'s rounding.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = (
        df.select(F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
    )
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # global total order = (df asc, sh asc); df is a corpus-level property so
    # the order is identical in every document
    docs = (
        sh.join(freq, "sh")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "sh"))).alias("ordered"))
        .withColumn("n_sh", F.size("ordered"))
        # alpha = ceil(t*n) with a downward epsilon: fp error may only ever
        # LENGTHEN the prefix (safe); shortening it would drop true pairs
        .withColumn(
            "p",
            F.col("n_sh")
            - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9)).cast("int")
            + F.lit(1),
        )
    )
    prefix = docs.select(
        "id",
        "n_sh",
        F.explode(
            F.transform(F.slice("ordered", F.lit(1), F.col("p")), lambda s: s["sh"])
        ).alias("sh"),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            # J >= t forces t * max(|A|,|B|) <= min(|A|,|B|)
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                >= F.lit(threshold) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = docs.select(
        "id", F.transform("ordered", lambda s: s["sh"]).alias("shs"), "n_sh"
    )
    verified = (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"), F.col("shs").alias("sh_a"), F.col("n_sh").alias("n_a")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"), F.col("shs").alias("sh_b"), F.col("n_sh").alias("n_b")
            ),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def jaccard_route_advice(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    blowup_threshold: float = 24.0,
    depth: int = 4,
    width: int = 65536,
    seed: str = "jacroute",
    hash_fn: str = "portable",
) -> DataFrame:
    """1-row advisory for EXACT Jaccard pair generation: the estimated
    self-join blow-up (candidate rows per shingle row) measured from a
    Count-Min sketch of the shingle table, and the route the executor
    takes (the advisory-made-an-executor discipline of ``advised_join``).

    SCALING.md measures a two-regime world for exact Jaccard: the plain
    shingle self-join wins bounded-df corpora (prefix filtering's
    freq-join + per-doc sort overhead buys nothing), while prefix
    filtering wins Zipf/boilerplate corpora by 3.4x-and-growing at 50k
    docs — the self-join's candidate volume is Σ_sh C(df_sh, 2),
    quadratic in hot shingles.  This advisory measures which regime the
    corpus is in BEFORE any pair is generated: one CM sketch build over
    the shingle stream (bounded depth×width output, map-side combinable,
    one shuffle of counter cells), then integer arithmetic on counters.

    Estimator: per hash row, sum(c) = N exactly (total shingle rows) and
    sum(c²) ≥ F2 = Σ_sh df² (the AMS/CM inner-product self-estimate,
    Cormode & Muthukrishnan 2005 §4.2 — collisions only inflate, min
    over rows tightens).  The expected collision term (N²-F2)/width is
    compensated out and the result clamped to ≥ N (F2 ≥ N always).
    ``selfjoin_blowup = F2_est / N`` is the document frequency a random
    shingle ROW sees — the factor by which self-join candidate rows
    exceed linear.  Counter squares accumulate in decimal(38,0)
    (HUGEINT in the oracle) so a 100 TB corpus cannot wrap int64.

    Route ladder: ``blowup > blowup_threshold → "prefix"`` else
    ``"selfjoin"``.  Both routes compute the SAME uncapped metric, so a
    wrong route is a performance mistake, never a correctness one.  The
    default threshold (24) sits between the measured regimes: the driver
    corpus profiles at blowup 2.06 (sf0.01) and 10.64 (sf0.1) — where
    the self-join is the faster generator — while a 30%-boilerplate
    fixture profiles at 75+ and climbs with corpus size, the regime
    where prefix filtering wins by multiples (3.4x at 50k docs,
    SCALING.md) and the gap grows with scale.

    Output: (shingle_rows, selfjoin_blowup, route).
    """
    from cassandra_util_spark.operators.sketches import count_min_build

    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
        )
        .distinct()
    )
    sketch = count_min_build(sh, "sh", depth, width, seed, hash_fn)
    dec = "decimal(38,0)"
    per_row = sketch.groupBy("row").agg(
        F.sum("c").alias("nr"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).alias("f2r"),
    )
    est = per_row.agg(
        F.max("nr").alias("shingle_rows"),
        F.min("f2r").cast("double").alias("f2_raw"),
    )
    w = float(width)
    nd = F.col("shingle_rows").cast("double")
    return est.select(
        "shingle_rows",
        F.round(
            F.greatest(
                (F.col("f2_raw") - nd * nd / F.lit(w)) / F.lit(1.0 - 1.0 / w),
                nd,
            )
            / nd,
            6,
        ).alias("selfjoin_blowup"),
    ).withColumn(
        "route",
        F.when(
            F.col("selfjoin_blowup") > F.lit(blowup_threshold), F.lit("prefix")
        ).otherwise(F.lit("selfjoin")),
    )


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    blowup_threshold: float = 24.0,
    depth: int = 4,
    width: int = 65536,
    seed: str = "jacroute",
    hash_fn: str = "portable",
) -> DataFrame:
    """Exact Jaccard pairs with the pair GENERATOR chosen by the measured
    shingle-df profile: collect :func:`jaccard_route_advice`'s single row
    (bounded by construction — loud failure on shape violation) and
    dispatch to :func:`ngram_jaccard_pairs` (bounded-df regime) or
    :func:`ngram_jaccard_pairs_prefix` (Zipf/boilerplate regime).  Output
    is row-identical either way — the uncapped metric — so the oracle is
    the plain Jaccard SQL regardless of route.  The sketch pass costs one
    extra scan of the shingle derivation with a depth×width-bounded
    output; at corpus scale that is noise against the quadratic blow-up
    the wrong generator risks.  Reference anchor: the sketch-advised join
    router (CQLBatch.scala:56-67 routes work by data shape decided before
    execution)."""
    adv = jaccard_route_advice(
        df, id_col, text_col, n, blowup_threshold, depth, width, seed, hash_fn
    ).collect()
    if len(adv) != 1:
        raise ValueError(f"route advisory must be exactly 1 row, got {len(adv)}")
    if adv[0]["route"] == "prefix":
        return ngram_jaccard_pairs_prefix(df, id_col, text_col, n=n, threshold=threshold)
    return ngram_jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with CONTAINMENT >= threshold, where containment =
    |shingles_a ∩ shingles_b| / min(|shingles_a|, |shingles_b|) — Broder's
    containment coefficient on the smaller side.

    The subset-duplication detector symmetric Jaccard is blind to: a
    20-word excerpt fully contained in a 2000-word page scores containment
    1.0 but Jaccard ≈ 0.01, so quote farms, syndicated snippets, and
    prefix-truncated mirrors never cross a Jaccard threshold.  Same
    candidate machinery and scale knob (``max_doc_freq``) as
    :func:`ngram_jaccard_pairs`.  Output: (id_a, id_b, containment rounded
    to 6dp).
    """
    inter, sizes = _ngram_pair_counts(df, id_col, text_col, n, max_doc_freq)
    cont = _with_sizes(inter, sizes).withColumn(
        "containment",
        F.round(F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")), 6),
    )
    return cont.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "containment"
    )


def _bloom_pos(col: Column, seed: int, num_bits: int) -> Column:
    """Bit position of hash ``seed`` for a digest value, in [0, num_bits)."""
    return F.pmod(F.xxhash64(F.lit(seed), col), F.lit(num_bits))


def _bloom_bitmap_words(
    digests: DataFrame, col: str, num_bits: int, num_hashes: int,
    tree_threshold: int = 64,
) -> list[int]:
    """Distributed Bloom-filter build: per-partition bitmaps folded in Arrow
    batches (numpy bit-ops, never per-row Python), then OR-merged.

    Driver transfer is bounded by a tree level: with P scan partitions the
    per-partition fold yields P bitmap rows of num_bits/8 bytes each; a flat
    driver fold of those is (P × num_bits/8) bytes — 1 GiB at 1024
    partitions × the default 2^23 bits, and proportionally worse when
    ``bloom_bits`` is sized up for larger reference sets.  So when
    P > ``tree_threshold`` the per-partition bitmaps are OR-merged in
    ⌈√P⌉ groups first (one shuffle of P bitmap rows, grouped by a
    partition-id hash) and the driver collects only √P rows: 32 bitmaps ≈
    32 MiB at the 1024-partition example.  Below the threshold the group
    level would cost more in task overhead than it saves, so the fold stays
    flat.  Both paths produce bit-identical words (OR is associative and
    commutative) — pinned by test_bloom_tree_merge_identical.
    """
    import math

    import numpy as np
    import pandas as pd

    num_words = num_bits // 64
    num_parts = digests.rdd.getNumPartitions()
    num_groups = math.isqrt(num_parts - 1) + 1 if num_parts > tree_threshold else 1
    pos = digests.select(
        F.explode(
            F.array(*[_bloom_pos(F.col(col), s, num_bits) for s in range(num_hashes)])
        ).alias("pos"),
        (F.spark_partition_id() % num_groups).alias("grp"),
    )

    def fold(batches):
        bm = np.zeros(num_words, dtype=np.uint64)
        grp = 0
        for pdf in batches:
            if len(pdf):
                grp = int(pdf["grp"].iloc[0])
                p = pdf["pos"].to_numpy().astype(np.int64)
                np.bitwise_or.at(bm, p >> 6, np.uint64(1) << (p & 63).astype(np.uint64))
        yield pd.DataFrame({"grp": [grp], "words": [bm.view(np.int64).tolist()]})

    part_maps = pos.mapInPandas(fold, "grp int, words array<bigint>")

    if num_groups > 1:
        def or_group(pdf: pd.DataFrame) -> pd.DataFrame:
            bm = np.zeros(num_words, dtype=np.uint64)
            for w in pdf["words"]:
                bm |= np.asarray(w, dtype=np.int64).view(np.uint64)
            return pd.DataFrame({"words": [bm.view(np.int64).tolist()]})

        part_maps = part_maps.groupBy("grp").applyInPandas(
            lambda pdf: or_group(pdf), "words array<bigint>"
        )

    out = np.zeros(num_words, dtype=np.uint64)
    for row in part_maps.select("words").collect():
        out |= np.asarray(row["words"], dtype=np.int64).view(np.uint64)
    return out.view(np.int64).tolist()


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    id_col: str,
    content_cols: list[str],
    method: str = "anti_join",
    bloom_bits: int = 1 << 23,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Incremental dedup: drop rows whose content already exists in a
    REFERENCE corpus (the new-crawl-versus-historical-store pass; within-
    batch duplicates are exact_dedup's job and are NOT collapsed here).

    ``method='anti_join'`` (default): anti-join on the 32-byte content
    digest — the reference side reduces to its distinct digest set (at
    warehouse scale that digest table is the persisted artifact, one digest
    per historical doc, content never re-read) and the join shuffles
    32-byte keys only.  BinaryType content hashes byte-exact, as in
    exact_dedup.

    ``method='bloom'``: EXACT two-phase variant for when the incoming scan
    is the 100 TB side.  A Bloom filter of the reference digests
    (``bloom_bits`` bits, ``bloom_hashes`` probes) is built distributed and
    broadcast as one array<bigint> row; incoming rows whose digest misses
    any probe are *provably new* (no false negatives) and bypass the join
    entirely — only Bloom hits (true dups + the fp rate) reach the exact
    anti-join, so the full corpus never shuffles.  False positives cost an
    extra exact check, never a wrongly dropped row: output is byte-identical
    to the anti-join (the contract query certifies both against one
    oracle).  Size ``bloom_bits`` ≈ 10× the reference digest count for ~1%
    fp; the bitmap must stay broadcast-sized (2^23 bits = 1 MiB default,
    ~500M digests ⇒ 640 MiB — beyond that, partition the reference and
    apply per shard, or fall back to the plain anti-join).
    """
    digest = _digest_for(df, content_cols)
    ref_digest = _digest_for(reference, content_cols)
    ref = reference.select(ref_digest.alias("__digest")).distinct()
    if method == "anti_join":
        return (
            df.withColumn("__digest", digest)
            .join(ref, "__digest", "left_anti")
            .drop("__digest")
        )
    if method != "bloom":
        raise ValueError(f"unknown method {method!r}: anti_join | bloom")
    if bloom_bits < 64 or bloom_bits % 64:
        # positions span [0, bloom_bits); a non-word-multiple truncates the
        # bitmap and out-of-range probes would NULL out rows on BOTH branches
        raise ValueError(f"bloom_bits must be a positive multiple of 64, got {bloom_bits}")

    # the distinct-digest shuffle feeds two consumers (the bitmap build's
    # collect and the exact anti-join) — materialize it once
    ref = ref.localCheckpoint(eager=False)
    words = _bloom_bitmap_words(ref, "__digest", bloom_bits, bloom_hashes)
    bloom = F.broadcast(
        df.sparkSession.createDataFrame([(words,)], "__bloom_words array<bigint>")
    )
    probed = df.withColumn("__digest", digest).crossJoin(bloom)
    hit = F.lit(True)
    for s in range(bloom_hashes):
        p = _bloom_pos(F.col("__digest"), s, bloom_bits)
        word = F.element_at(
            F.col("__bloom_words"), (F.floor(p / 64) + 1).cast("int")
        )
        hit = hit & (F.getbit(word, p % 64) == 1)
    definitely_new = probed.filter(~hit).drop("__bloom_words", "__digest")
    candidates = probed.filter(hit).drop("__bloom_words")
    survivors = candidates.join(ref, "__digest", "left_anti").drop("__digest")
    return definitely_new.unionByName(survivors)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def passage_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 64,
    overlap: int = 0,
) -> DataFrame:
    """Passage-level duplication: per document, the share of its chunks
    whose fingerprint appears in MORE THAN ONE distinct document —
    (id, n_chunks, dup_chunks, dup_share).

    Document-level dedup misses boilerplate passages embedded in otherwise
    distinct pages (headers, licenses, templated sections); this is the
    chunk-granularity signal modern pretraining pipelines filter on.
    Built by composition: chunk_documents fan-out → md5 chunk fingerprint
    → fingerprint-keyed doc-frequency (one shuffle on the 16-byte print,
    map-side partials) → fingerprint-keyed join back onto the chunk
    stream → per-doc aggregate.  The frequency table has one row per
    DISTINCT chunk — at corpus scale that is billions of rows, so the
    rejoin is deliberately NOT broadcast (unlike decontaminate's bounded
    benchmark grams): both sides shuffle on the same 16-byte key, and the
    chunk-stage exchange is reused.  Overlap defaults to 0 here —
    overlapping windows would double-count shared text in the share.
    """
    from cassandra_util_spark.operators.packing import chunk_documents

    chunks = chunk_documents(df, id_col, text_col, chunk_words, overlap).select(
        F.col(id_col).alias("id"), F.md5(F.col("chunk_text")).alias("fp")
    )
    freq = chunks.groupBy("fp").agg(
        F.count_distinct(F.col("id")).alias("n_docs")
    )
    return (
        chunks.join(freq, "fp")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_docs") > 1).cast("int")).alias("dup_chunks"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_chunks",
            F.col("dup_chunks").cast("bigint").alias("dup_chunks"),
            F.round(F.col("dup_chunks") / F.col("n_chunks"), 6).alias("dup_share"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 64,
) -> DataFrame:
    """Cross-document duplicate-SPAN removal — the corpus TRANSFORMATION
    counterpart of :func:`passage_dup_stats` (which only measures): every
    repeated ``chunk_words``-word span is kept at its globally FIRST
    occurrence (lowest (doc_id, chunk_id)) and deleted everywhere else,
    then documents are rebuilt from their surviving spans.  This is the
    C4-style "deduplicate repeated spans across pages" pass (Raffel et al.
    2020 §2.2 drop repeated three-sentence spans; MassiveText/Gopher do the
    per-line analog) — boilerplate embedded in otherwise-distinct pages is
    excised rather than the whole page being dropped.

    Output: (id, clean_text, n_chunks, n_dropped) for EVERY input document
    (a fully-boilerplate document survives with clean_text = '').
    ``clean_text`` is in normalized-token form (the chunker's basis), so
    rebuilding is exact and engine-reproducible: surviving chunks rejoin
    with single spaces in chunk order.

    Scale shape (100 TB): chunk fan-out is map-only (chunk_documents);
    first-occurrence election is a groupBy(fingerprint) min-aggregate —
    map-side partial mins, one shuffle on the 16-byte print — and the
    survivor check rejoins the chunk stream on the same key (exchange
    reuse; deliberately NOT broadcast, the print table has one row per
    distinct span).  The rebuild is one groupBy(id) collect_list of the
    document's own chunks — bounded per row by document length, the same
    bound the input row already had.
    """
    from cassandra_util_spark.operators.packing import chunk_documents

    chunks = chunk_documents(df, id_col, text_col, chunk_words, overlap=0).select(
        F.col(id_col).alias("id"),
        "chunk_id",
        "chunk_text",
        F.md5(F.col("chunk_text")).alias("fp"),
    ).localCheckpoint(eager=False)
    # ^ materialized once: three consumers follow (election, survivor join,
    #   per-doc counts) and the counts' id-keyed aggregate cannot reuse the
    #   fp-keyed exchange, so without this the normalize+chunk expression
    #   runs twice — measured 2x slower at sf0.1 (the tfidf tf-table
    #   pattern; at warehouse scale this is a persisted chunk table).
    first = chunks.groupBy("fp").agg(
        F.min(F.struct("id", "chunk_id")).alias("first_at")
    )
    survivors = chunks.join(first, "fp").filter(
        (F.col("id") == F.col("first_at.id"))
        & (F.col("chunk_id") == F.col("first_at.chunk_id"))
    )
    rebuilt = survivors.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    counts = chunks.groupBy("id").agg(F.count(F.lit(1)).alias("n_chunks"))
    return (
        counts.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )


def remove_repeated_spans_within(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 32,
) -> DataFrame:
    """WITHIN-document repeated-span removal — the per-page half of the
    repetition cleanup (MassiveText/Gopher drop pages with heavy internal
    repetition; the milder remedy is to excise the repeats): each
    ``chunk_words``-word span is kept at its first occurrence INSIDE the
    document and dropped on every later repeat; the document is rebuilt
    from surviving spans.  :func:`remove_duplicate_spans` is the
    cross-document counterpart and needs corpus-global state; this one
    needs none — a span's verdict depends only on its own row.

    Output: (id, clean_text, n_chunks, n_dropped); ``clean_text`` is in
    normalized-token form (the chunker's basis).

    Scale shape: a PURE map-only expression — the chunk array is let-bound,
    first-occurrence testing is ``array_position(chunks, chunks[i]) == i+1``
    (first index of the value == own index), and the rebuild is a
    filter+join over the same bound array.  Zero shuffles, whole-stage
    codegen, column-pruned scan: the cheapest possible plan shape at any
    corpus size.
    """
    from cassandra_util_spark.operators.packing import chunk_structs
    from cassandra_util_spark.operators.text import _norm_tokens

    if chunk_words < 1:
        raise ValueError(f"chunk_words must be positive, got {chunk_words}")

    def of_chunks(chunks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(chunks))
        kept_expr = F.transform(
            F.filter(
                F.transform(idx, lambda i: F.struct(
                    i.alias("i"),
                    F.element_at(chunks, i).alias("c"),
                )),
                lambda s: F.array_position(chunks, s["c"]) == s["i"],
            ),
            lambda s: s["c"],
        )

        def of_kept(kept: Column) -> Column:
            return F.struct(
                F.array_join(kept, " ").alias("clean_text"),
                F.size(chunks).cast("bigint").alias("n_chunks"),
                (F.size(chunks) - F.size(kept)).cast("bigint").alias("n_dropped"),
            )

        return F.transform(F.array(kept_expr), of_kept)[0]

    # the chunk arithmetic is chunk_structs (packing.py) — the SAME window
    # expression the cross-document excision explodes, so the two span
    # operators cannot disagree on chunk boundaries
    out = F.transform(
        F.array(
            F.transform(
                F.array(_norm_tokens(F.col(text_col))),
                lambda toks: F.transform(
                    chunk_structs(toks, chunk_words, 0), lambda s: s["chunk_text"]
                ),
            )[0]
        ),
        of_chunks,
    )[0]
    # two-step projection: the struct is materialized once per row, then
    # expanded (CollapseProject keeps non-cheap higher-order expressions
    # single-evaluated rather than inlining them per output column)
    return df.select(F.col(id_col), out.alias("__o")).select(
        id_col,
        F.col("__o.clean_text").alias("clean_text"),
        F.col("__o.n_chunks").alias("n_chunks"),
        F.col("__o.n_dropped").alias("n_dropped"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_collisions: int = 1,
    broadcast_grams: bool | None = None,
    broadcast_threshold: int = 10_000_000,
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with a benchmark
    set — the standard eval-set decontamination pass (the reason reported
    benchmarks are trusted at all).

    Returns every training row as (id, n_collisions, contaminated), where
    ``n_collisions`` counts DISTINCT benchmark n-grams hit (not occurrence
    multiplicity) and ``contaminated`` applies ``min_collisions``.

    Scale shape: when the benchmark gram set is broadcast-sized — eval
    suites are millions of grams at most — the scan over 100 TB of training
    grams is join-local (no shuffle of training data by gram) and the only
    exchange is the per-doc collision count keyed by id.  The choice is
    SIZE-CONDITIONAL, not hard-coded: ``broadcast_grams=None`` (default)
    counts the distinct benchmark grams first — a benchmark-side-only
    aggregate, never touching the training corpus — and applies the
    broadcast hint only under ``broadcast_threshold``; beyond it the join
    degrades to a gram-keyed shuffle instead of a driver OOM.  Both
    branches produce identical output (test_decontaminate_shuffle_branch).
    Pass ``broadcast_grams=True/False`` to skip the count and force a
    branch when the benchmark's size is already known.
    """
    bench_grams = (
        benchmark.select(F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
    )
    if broadcast_grams is None:
        # the count's shuffle is the same distinct the join needs anyway —
        # materialize it once so the probe isn't paid twice
        bench_grams = bench_grams.localCheckpoint(eager=False)
        broadcast_grams = bench_grams.count() <= broadcast_threshold
    bench_side = F.broadcast(bench_grams) if broadcast_grams else bench_grams
    train_grams = train.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), n)).alias("sh")
    )
    hits = (
        train_grams.join(bench_side, "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )
    return (
        train.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_collisions"), F.lit(0)).alias("n_collisions"),
            (F.coalesce(F.col("n_collisions"), F.lit(0)) >= min_collisions).alias(
                "contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE_31 = (1 << 31) - 1


def minhash_params(num_perm: int) -> list[tuple[int, int]]:
    """The deterministic (a_j, b_j) universal-hash family — module-level so
    an external oracle can reproduce the identical permutations."""
    import random

    rnd = random.Random(1742)
    p = _MERSENNE_31
    return [(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(num_perm)]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    hash_fn: str = "portable",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures.

    Formulated as explode(shingles) → groupBy(id).agg(min(hash_j) × num_perm):
    one shuffle with map-side partial mins.  The tempting pure-expression form
    (transform over seq(0..63) of array_min over shingles) inlines the whole
    shingle subtree num_perm times into codegen — measured 20x slower — and
    this shape also spreads signature work across executors by shingle, not
    by document, which is what survives skewed document sizes at scale.

    ``hash_fn``: base-hash family for the shingle.  "portable" (default, an
    md5 word — reproducible in any engine, so signatures are oracle-
    verifiable) or "xxhash64" (fastest JVM hash; same pipeline, engine-
    specific values).  Only the leaf hash differs — banding, candidate
    generation, and verification are identical code in both modes.
    ``shingles``: optional precomputed :func:`shingle_rows` frame replacing
    the internal scan (the recall audits share one pinned shingle pass
    between their exact and approximate sides).
    """
    sh = _shingle_source(df, id_col, text_col, n, shingles)
    # permutations via universal hashing of ONE base hash in the Mersenne
    # field p = 2^31-1: h_j = (a_j * h31 + b_j) mod p with a_j,b_j < p and
    # h31 a 31-bit base hash of the shingle.  Everything must live in the
    # SAME 31-bit field: a larger p against 31-bit inputs barely wraps, the
    # map stays near-monotonic, signatures correlate across seeds, and LSH
    # precision collapses (measured: 18x false-positive pairs).  Products
    # stay under 2^62 (no ANSI overflow) and only one base hash runs per
    # shingle instead of num_perm.
    from cassandra_util_spark.functions import portable_hash31

    params = minhash_params(num_perm)
    if hash_fn == "portable":
        h31 = portable_hash31(F.col("sh"))
    elif hash_fn == "xxhash64":
        h31 = F.xxhash64(F.col("sh")).bitwiseAND(F.lit(0x7FFFFFFF))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sh = sh.select("id", h31.alias("h"))
    # The num_perm min-aggregates are ONE SQL string parsed in ONE py4j
    # call: the per-permutation Column loop this replaces made ~7 py4j
    # round-trips per permutation (~450 for the default 64) and its
    # construction cost grew with driver-session age — measured 2.0-14s
    # per call vs a flat ~0.5s for the parsed form (r18; the same
    # boundary lesson as r17's F.lit-loop collapse).  The parsed plan is
    # identical: same HashAggregate with map-side partial mins, values
    # bit-equal (the {a}L/{b}L long literals widen exactly as the int
    # lits did under the * and + promotions).
    body = ",".join(
        f"min(pmod({a}L * h + {b}L, {_MERSENNE_31}L))" for a, b in params
    )
    return sh.groupBy("id").agg(F.expr(f"array({body})").alias("sig"))


def _banded_ids(sig: DataFrame, num_perm: int, bands: int, hash_fn: str) -> DataFrame:
    """(id, band, bucket) LSH band keys of a signature table.

    Ids are banded WITHOUT carrying signatures: the candidate join shuffles
    only (id, band, bucket) — small rows — instead of 8*num_perm-byte
    signature arrays; signatures rejoin onto the (few) surviving candidate
    pairs afterwards.  Shared by the self-join pair generator
    (:func:`minhash_lsh_pairs`) and the incremental two-corpus variant
    (:func:`lsh_dedup_against`) so the two cannot disagree on band keys —
    which is also what makes a PERSISTED band table written by one usable
    as the historical index of the other.
    """
    rows_per_band = num_perm // bands

    def band_key(b: Column) -> Column:
        joined = F.concat_ws(",", F.transform(
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
            lambda v: v.cast("string"),
        ))
        return joined if hash_fn == "portable" else F.xxhash64(joined).cast("string")

    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), band_key(b).alias("bucket")),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "portable",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH.

    signature → ``bands`` bands of ``num_perm/bands`` rows; docs sharing any
    band key become candidates (one shuffle keyed by (band, bucket));
    candidate pairs are verified with the estimated Jaccard = matching
    signature fraction.  Output: (id_a, id_b, est_jaccard).

    In "portable" mode (default) the band bucket is the concatenated band
    values themselves — collision-free and engine-reproducible; in
    "xxhash64" mode the bucket is hashed to a fixed 8 bytes, the smaller
    shuffle key for extreme scale (a 2^-64 collision can at worst add one
    candidate pair, which the verify step then scores honestly).
    """
    # materialize signatures once: three consumers follow (banding + both
    # sides of the candidate verify join) and recomputing the explode+64-agg
    # DAG per consumer costs more than the signature table's storage.  At
    # warehouse scale this step is a persisted signature table on disk.
    sig = minhash_signatures(
        df, id_col, text_col, n, num_perm, hash_fn, shingles
    ).localCheckpoint(eager=False)
    banded = _banded_ids(sig, num_perm, bands, hash_fn)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
                        lambda v: v == 1,
                    )
                )
                / F.lit(num_perm),
                6,
            ),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold).select("id_a", "id_b", "est_jaccard")


def lsh_dedup_against(
    df: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "portable",
) -> DataFrame:
    """Incremental NEAR-dup: drop incoming rows whose estimated Jaccard
    against ANY document of a historical REFERENCE corpus reaches
    ``threshold`` — the fuzzy counterpart of :func:`dedup_against` (which
    only catches byte-identical content).  A re-crawled page with a new
    timestamp or reshuffled boilerplate sails through digest dedup; its
    MinHash signature still collides with the stored one.

    Same signature/banding machinery as :func:`minhash_lsh_pairs`
    (:func:`_banded_ids` is literally shared), but the candidate join is
    new×reference instead of a self-join: incoming band keys probe the
    reference band table, survivors of the band filter verify on full
    signatures, and verified hits anti-join out of the incoming batch.
    Within-batch duplicates are NOT collapsed here (minhash_lsh_pairs +
    resolve_duplicates is that job), mirroring dedup_against's contract.

    Scale shape (100 TB): at warehouse scale the reference side's
    (signatures, band table) pair is the PERSISTED index an incremental
    crawl pipeline maintains — band keys for the probe, signatures for the
    verify, content never re-read.  The band join shuffles (id, band,
    bucket) rows only; signatures rejoin on the (few) band-collision
    survivors; the final anti-join carries bare ids.  Every stage is keyed
    by band bucket or id — no all-pairs path at any size.
    """
    sig_new = minhash_signatures(df, id_col, text_col, n, num_perm, hash_fn).localCheckpoint(
        eager=False
    )
    sig_ref = minhash_signatures(
        reference, id_col, text_col, n, num_perm, hash_fn
    ).localCheckpoint(eager=False)
    dup_ids = _lsh_probe_dup_ids(sig_new, sig_ref, num_perm, bands, threshold, hash_fn)
    return df.join(
        dup_ids, F.col(id_col) == F.col("__dup_id"), "left_anti"
    )


def _lsh_probe_dup_ids(
    sig_new: DataFrame,
    sig_ref: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
    hash_fn: str,
) -> DataFrame:
    """The probe half of incremental LSH dedup, over (id, sig) tables from
    ANY provenance (freshly computed or read back from a persisted index):
    band-key candidate join, full-signature verify, distinct offender ids."""
    cand = (
        _banded_ids(sig_new, num_perm, bands, hash_fn)
        .withColumnRenamed("id", "new_id")
        .join(
            _banded_ids(sig_ref, num_perm, bands, hash_fn)
            .withColumnRenamed("id", "ref_id"),
            ["band", "bucket"],
        )
        .select("new_id", "ref_id")
        .dropDuplicates(["new_id", "ref_id"])
    )
    est = (
        cand.join(sig_new.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_n")), "new_id")
        .join(sig_ref.select(F.col("id").alias("ref_id"), F.col("sig").alias("sig_r")), "ref_id")
        .withColumn(
            "est_jaccard",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with(F.col("sig_n"), F.col("sig_r"), lambda x, y: (x == y).cast("int")),
                        lambda v: v == 1,
                    )
                )
                / F.lit(num_perm),
                6,
            ),
        )
    )
    return (
        est.filter(F.col("est_jaccard") >= threshold)
        .select(F.col("new_id").alias("__dup_id"))
        .distinct()
    )


def lsh_dedup_from_store(
    df: DataFrame,
    store,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "portable",
) -> DataFrame:
    """:func:`lsh_dedup_against` with the reference side read from a
    PERSISTED signature index (a :class:`~cassandra_util_spark.sources.runs.RunStore`
    of (id, sig, writetime) rows, maintained by
    :func:`~cassandra_util_spark.streaming.dedup.stream_lsh_index`) — the
    actual 100 TB consumption pattern: historical CONTENT is never
    re-read or re-shingled; only its bounded signature table (num_perm
    bigints per document) participates, band keys are re-derived map-side
    from the stored arrays, and re-crawled documents hold exactly one
    live signature thanks to the store's LWW merge on ``id``.

    The store read honors the run store's pruning machinery, so a
    key-bounded probe (e.g. one shard of the id space) reads only the
    runs that cover it.

    Reference anchor: the reference never re-reads sstables it has
    already summarized — scans consult per-sstable summaries first
    (SSTableReader key-range/estimated-keys metadata); this is that
    discipline applied to near-dup state.
    """
    spark = df.sparkSession
    sig_ref = store.read_merged(spark).select("id", "sig")
    sig_new = minhash_signatures(df, id_col, text_col, n, num_perm, hash_fn).localCheckpoint(
        eager=False
    )
    dup_ids = _lsh_probe_dup_ids(sig_new, sig_ref, num_perm, bands, threshold, hash_fn)
    return df.join(dup_ids, F.col(id_col) == F.col("__dup_id"), "left_anti")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 4,
    title_chars: int = 32,
    block_chars: int = 4,
    mode: str = "blocked",
    max_key_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by LEVENSHTEIN distance over a normalized title
    prefix — the short-string technique for the regime where shingle/
    MinHash methods fail (titles, product names, queries: too few tokens
    for set similarity, but 1-2 character edits are exactly what edit
    distance measures).  Output: (id_a, id_b, distance) for pairs with
    distance <= ``max_distance`` and length difference <= ``max_distance``
    (a necessary condition, applied before the O(len²) distance).

    ``mode='blocked'`` (default): candidates must share the title's first
    ``block_chars`` OR last ``block_chars`` characters — two hash-joinable
    key families instead of all pairs.  Recall contract: any pair whose
    edits leave EITHER end untouched is found; only pairs edited at both
    ends simultaneously are missed (multi-pass blocking with more key
    families is the standard recall ladder).  ``mode='exact'`` scores all
    length-compatible pairs — O(N²), the small-N audit path.

    ``max_key_freq`` is the scale-safety lever for LOW-ENTROPY corpora
    (the df-cap discipline from ngram_jaccard_pairs): a blocking key shared
    by f documents contributes O(f²) candidates, so one hot prefix ("the
    2024 annual…" × 10⁶ titles) degenerates toward all-pairs.  With the cap
    set, keys above it are dropped BEFORE the self-join (one cheap count
    aggregate over the tiny key table); pairs blocked only by a dropped key
    are the documented recall cost.

    Scale shape: blocking keys are tiny fixed-width strings (one shuffle
    per key family, unioned); the distance evaluates ONLY on candidates;
    everything is built-in expressions (Spark's levenshtein is JVM
    codegen, identical unit-cost semantics to ANSI/DuckDB levenshtein, so
    the whole pipeline is oracle-verifiable).
    """
    if mode not in ("blocked", "exact"):
        raise ValueError(f"unknown mode {mode!r}: blocked | exact")
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    t = df.select(
        F.col(id_col).alias("id"),
        F.substring(normalize_text(F.col(text_col)), 1, title_chars).alias("title"),
    )
    # The title is <= title_chars (~tens of bytes), so it is CHEAPER to carry
    # it through the blocking shuffle than to re-join it onto the candidate
    # pairs afterwards: carrying costs O(keys) extra shuffle bytes once, the
    # re-join costs two additional shuffled joins of the full id set plus the
    # candidate set.  The length gate rides the join condition so
    # length-incompatible pairs never reach the dedup.
    if mode == "blocked":
        pre = t.select("id", "title", F.substring("title", 1, block_chars).alias("k"))
        suf = t.select(
            "id", "title", F.substring("title", -block_chars, block_chars).alias("k")
        )
        keys = pre.unionByName(suf)
        if max_key_freq is not None:
            hot = (
                keys.groupBy("k")
                .agg(F.count(F.lit(1)).alias("f"))
                .filter(F.col("f") > max_key_freq)
                .select("k")
            )
            keys = keys.join(F.broadcast(hot), "k", "left_anti")
        a, b = keys.alias("a"), keys.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.id") < F.col("b.id"))
                & (
                    F.abs(F.length(F.col("a.title")) - F.length(F.col("b.title")))
                    <= max_distance
                ),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.title").alias("title_a"),
                F.col("b.title").alias("title_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        ta, tb = t.alias("ta"), t.alias("tb")
        cand = ta.join(
            tb,
            (F.col("ta.id") < F.col("tb.id"))
            & (
                F.abs(F.length(F.col("ta.title")) - F.length(F.col("tb.title")))
                <= max_distance
            ),
        ).select(
            F.col("ta.id").alias("id_a"),
            F.col("tb.id").alias("id_b"),
            F.col("ta.title").alias("title_a"),
            F.col("tb.title").alias("title_b"),
        )
    scored = cand.withColumn(
        "distance", F.levenshtein("title_a", "title_b").cast("bigint")
    )
    return scored.filter(F.col("distance") <= max_distance).select(
        "id_a", "id_b", "distance"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str = "portable"
) -> DataFrame:
    """(id, sim: bigint) 64-bit SimHash: per bit, sign of the sum over token
    occurrences of ±1 by that bit of a 64-bit token hash.

    explode(tokens) → groupBy(id).agg(64 conditional sums) → assemble the
    word from the counter signs.  Same scale rationale as
    :func:`minhash_signatures` (partial aggregation, no expression blowup).

    ``hash_fn``: "portable" (default) takes the two leading 32-bit md5 words
    (hi = hex chars 1-8 → bits 63..32, lo = chars 9-16 → bits 31..0) so an
    external oracle reproduces every bit; "xxhash64" splits the JVM hash the
    same way.  Only the leaf hash differs between modes.
    """
    from cassandra_util_spark.operators.text import tokens

    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t"))
    if hash_fn == "portable":
        # both 32-bit words slice one md5 subtree; codegen subexpression
        # elimination evaluates it once per token
        hx = F.md5(F.col("t"))
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint")
    elif hash_fn == "xxhash64":
        h = F.xxhash64(F.col("t"))
        hi = F.shiftright(h, 32).bitwiseAND(F.lit(0xFFFFFFFF))
        lo = h.bitwiseAND(F.lit(0xFFFFFFFF))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    tok = tok.select("id", hi.alias("hi"), lo.alias("lo"))

    # Branch-free bit-count accumulation (VERDICT r4 task 3 — the original
    # 64 `sum(when(bit==1, 1).otherwise(-1))` aggregates were the cost
    # center).  Per-bit we need only S_i = #tokens with bit i set and
    # n = #tokens: the definitional per-bit signed sum is 2·S_i − n, so its
    # sign is `2·S_i > n` (ties → 0, as before).  The hot path is now a
    # plain `sum((w >>> i) & 1)` per bit plus one count — no when-branches,
    # no null-handling conditionals — and the word assembly runs on the
    # one-row-per-id aggregate output.  Measured at sf0.1 (repeat-4 warm
    # medians): 2.90s → 2.66s for the full simhash_pairs pipeline.  A
    # multiply-spread packed-lane variant (16 longs × 4 16-bit lanes) was
    # 2.41s but silently caps documents at 32767 tokens (lanes × width must
    # stay ≤ 63 bits for signed-long SUM safety, and the top lane's partial
    # sums bind first); the 63-bit-safe 22×3×21-bit geometry measured
    # 3.18s — SLOWER than unpacked, the spread multiplies outweighing the
    # saved buffers.  Plain bit-sums have no document-size cap at all
    # (overflow needs 2^63 tokens), so they win on robustness AND beat the
    # original.  Signatures are bit-identical to the definitional form; the
    # hash oracle and the Python-reference test pin that.
    word64 = F.shiftleft(F.col("hi"), 32).bitwiseOR(F.col("lo"))
    tok = tok.select("id", word64.alias("w"))
    # Both 64-wide expression sets are ONE parsed SQL string each instead
    # of per-bit Column loops (~5-6 py4j calls per bit, ~700 total) — the
    # same construction-cost collapse as minhash_signatures above (r18).
    # The sums aggregate exactly as before (64 independent SUMs with
    # map-side partials; the array constructor wraps their outputs), and
    # the word assembly is the same 64-term OR of IF(2·S_i > n) picks —
    # shiftleft(1L, 63) constant-folds to long.MIN_VALUE, the sign bit the
    # loop spelled as -(1 << 63).
    sums = ",".join(f"sum(shiftrightunsigned(w, {i}) & 1)" for i in range(64))
    counters = tok.groupBy("id").agg(
        F.expr(f"array({sums})").alias("s"), F.count(F.lit(1)).alias("n")
    )
    word = " | ".join(
        f"IF(element_at(s, {i + 1}) * 2 > n, shiftleft(1L, {i}), 0L)"
        for i in range(64)
    )
    return counters.select("id", F.expr(word).alias("sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "portable",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Candidates: by pigeonhole, two hashes within distance 3 agree on at least
    one of 4 16-bit chunks — group on (chunk_index, chunk_value), then verify
    with bit_count(xor).  Output: (id_a, id_b, hamming).
    """
    sigs = simhash_signatures(df, id_col, text_col, hash_fn)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftright(F.col("sim"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
        )
        for i in range(4)
    ]
    chunks = sigs.select(
        "id", "sim", F.explode(F.array(*chunk_structs)).alias("cc")
    ).select("id", "sim", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = cand.withColumn(
        "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("bigint")
    )
    return ham.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# local fingerprinting scheme)
# ---------------------------------------------------------------------------

def winnowing_fingerprints(
    col: Column, k: int = 3, w: int = 8, hash_fn: str = "portable"
) -> Column:
    """Winnowed fingerprint set of a text column (array<bigint>).

    Hash every ORDERED word k-gram, slide a window of ``w`` consecutive
    gram hashes, keep each window's minimum, and distinct the selections.
    The winnowing guarantee: any shared token run of at least ``w + k - 1``
    words between two documents yields at least one shared fingerprint —
    position-free overlap detection at ~2/(w+1) of the full shingle
    density, so downstream joins carry a fraction of the volume a
    full-shingle self-join would (the same detection floor that made this
    the MOSS plagiarism detector's core).

    Documents with fewer than ``w + k - 1`` words emit no fingerprints
    (below the guarantee floor — pair them with exact/fingerprint dedup).
    Pure per-row expression: the token array, the gram-hash array, and the
    window minima are each let-bound through a single-element ``transform``
    so no subtree re-evaluates per gram or per window (the word_shingles
    discipline; direct reference was measured 12x slower there).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    from cassandra_util_spark.functions import portable_hash31
    from cassandra_util_spark.operators.text import normalize_text

    if hash_fn == "portable":
        base_hash = portable_hash31
    elif hash_fn == "xxhash64":
        # the minhash/simhash production fast path: one JVM hash per gram
        # instead of md5+conv; selection changes (different minima), the
        # winnowing guarantee does not — it only needs hash determinism
        def base_hash(g: Column) -> Column:
            return F.xxhash64(g).bitwiseAND(F.lit(0x7FFFFFFF))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    def hashes_of(toks: Column) -> Column:
        count = F.size(toks) - F.lit(k - 1)
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(count, F.lit(1)) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
        grams = F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))
        return F.transform(grams, base_hash)

    def minima_of(h: Column) -> Column:
        nwin = F.size(h) - F.lit(w - 1)
        mins = F.transform(
            F.sequence(F.lit(0), F.greatest(nwin, F.lit(1)) - 1),
            lambda i: F.array_min(F.slice(h, i + 1, w)),
        )
        return F.array_distinct(
            F.when(nwin >= 1, mins).otherwise(F.array().cast("array<bigint>"))
        )

    toks = F.split(normalize_text(col), " ")
    hashes = F.transform(F.array(toks), hashes_of)[0]
    return F.transform(F.array(hashes), minima_of)[0]


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 8,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
    hash_fn: str = "portable",
) -> DataFrame:
    """All pairs (a < b) sharing at least ``min_shared`` winnowed
    fingerprints — overlap candidates with the winnowing guarantee (any
    common run of ``w + k - 1`` words surfaces) at a fraction of the
    full-shingle join volume.

    Same candidate machinery as the shingle family: self-join on the
    fingerprint value, pair-count aggregation; ``max_doc_freq`` drops
    corpus-stopword fingerprints before the join (the fan-out cap for
    web-scale boilerplate).  Output: (id_a, id_b, n_shared).
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnowing_fingerprints(F.col(text_col), k, w, hash_fn)).alias("fp"),
    )
    if max_doc_freq is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("fp")
        )
        fps = fps.join(keep, "fp")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    broadcast_grams: bool | None = None,
    broadcast_threshold: int = 10_000_000,
) -> DataFrame:
    """Per-document contamination REPORT — :func:`decontaminate`'s binary
    flag upgraded to the overlap fraction auditors actually act on:
    ``overlap = n_collisions / n_grams`` distinguishes a single shared
    idiom (drop nothing, 0.4%% overlap) from a verbatim benchmark copy
    (drop or quarantine, 80%%+).

    Output: (id, n_grams, n_collisions, overlap) for every training row;
    documents too short to produce any ``n``-gram report 0 grams and
    overlap 0.0.  The division is one rounded double op over two exact
    integer counts — engine-reproducible.

    Scale shape: identical to :func:`decontaminate` (size-conditional
    benchmark broadcast, per-doc count as the only training shuffle); the
    per-doc gram total is a map-only ``size()`` — no second pass.
    """
    bench_grams = (
        benchmark.select(F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
    )
    if broadcast_grams is None:
        bench_grams = bench_grams.localCheckpoint(eager=False)
        broadcast_grams = bench_grams.count() <= broadcast_threshold
    bench_side = F.broadcast(bench_grams) if broadcast_grams else bench_grams
    # shingle ONCE; n_grams derives from the materialized array (a second
    # word_shingles reference would duplicate the whole normalize+slice
    # subtree — the let-binding lesson in word_shingles' own docstring)
    base = train.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), n).alias("grams"),
    ).withColumn("n_grams", F.size("grams").cast("bigint"))
    hits = (
        base.select("id", F.explode("grams").alias("sh"))
        .join(bench_side, "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
    )
    return (
        base.select("id", "n_grams")
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce(F.col("n_collisions"), F.lit(0)).alias("n_collisions"),
            F.when(F.col("n_grams") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("n_collisions"), F.lit(0))
                    / F.col("n_grams").cast("double"),
                    6,
                )
            )
            .alias("overlap"),
        )
    )


def duplicated_token_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    scope: str = "global",
    hash_grams: bool = False,
) -> DataFrame:
    """Maximal duplicated spans at TOKEN granularity: for each document,
    the maximal token ranges in which EVERY n-gram occurs more than once
    in the corpus — the fine-grained form of the chunk-grid span
    operators (`remove_repeated_spans_within` / the cross-document
    excision work on a fixed 32-word grid; this reports exact token
    offsets and catches spans straddling chunk boundaries, the
    Lee et al. 2022 "Deduplicating Training Data" excision shape).

    Construction: a substring of length L ≥ n duplicated elsewhere makes
    every one of its L−n+1 n-gram start positions duplicated, so maximal
    duplicated regions are exactly the maximal RUNS of duplicated
    anchor positions (gaps-and-islands: island = pos − rank(pos), a pure
    integer trick), extended by n−1 trailing tokens.  Runs can chain
    through anchors duplicated against DIFFERENT documents — the
    standard excision criterion ("every token is inside some ≥n-token
    duplicated region"), deliberately coarser than whole-substring
    duplication.

    ``scope="global"`` counts an n-gram duplicated when it occurs ≥2
    times anywhere (including twice in one document);
    ``scope="cross_doc"`` requires ≥2 distinct documents.

    Scale shape: one n-gram explode (∝ corpus tokens) into a
    combiner-reduced gram count, anchors semi-joined back (∝ duplicated
    volume only), then per-document islands — a window partitioned by
    document, parallel across documents, state ∝ doc length.  Grams
    join on their exact text by default (no hash collisions to reason
    about, oracle-exact); ``hash_grams=True`` is the production fast
    path — the gram shuffle key becomes its xxhash64 word (measured on
    the x30 ramp corpus: 230 → 83 MB shuffle, 2.8× fewer bytes, 22%
    wall; a 2^-64 collision marks a span duplicated that is not — the
    LSH-twin trade).
    Output: (id, span_start, span_end, span_tokens) in 0-based token
    offsets of the NORMALIZED token stream, spans ≥ n tokens only.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if scope not in ("global", "cross_doc"):
        raise ValueError(f"unknown scope {scope!r}")
    grams = _gram_positions(df, id_col, text_col, n, hash_grams)
    if scope == "global":
        dup = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= 2)
            .select("g")
        )
    else:
        dup = (
            grams.groupBy("g")
            .agg(F.count_distinct("id").alias("c"))
            .filter(F.col("c") >= 2)
            .select("g")
        )
    anchors = grams.join(dup, "g").select("id", "pos")
    return _anchor_spans(anchors, id_col, n)


def _gram_positions(
    df: DataFrame, id_col: str, text_col: str, n: int, hash_grams: bool
) -> DataFrame:
    """(id, pos, g): every n-gram start position of every document —
    ``pos`` is the 0-based token offset (posexplode's index into the
    gram-start sequence IS the offset), ``g`` the gram's exact text or
    its xxhash64 word (``hash_grams``).  The shared leaf of the batch
    span detector and the gram-count index."""
    from cassandra_util_spark.operators.text import _norm_tokens

    toks = _norm_tokens(F.col(text_col))

    def gram_key(i):
        g = F.concat_ws(" ", F.slice(F.col("w"), i, n))
        return F.xxhash64(g) if hash_grams else g

    return (
        df.select(F.col(id_col).alias("id"), toks.alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - F.lit(n - 1)),
                    gram_key,
                )
            ).alias("pos", "g"),
        )
    )


def _anchor_spans(anchors: DataFrame, id_col: str, n: int) -> DataFrame:
    """Maximal runs of duplicated anchor positions → (id, span_start,
    span_end, span_tokens) via gaps-and-islands (island = pos − rank),
    extended by the gram's n−1 trailing tokens."""
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("pos").asc())
    islands = anchors.withColumn(
        "island", F.col("pos") - F.row_number().over(w)
    )
    return (
        islands.groupBy("id", "island")
        .agg(F.min("pos").alias("first_anchor"), F.max("pos").alias("last_anchor"))
        .select(
            F.col("id").alias(id_col),
            F.col("first_anchor").cast("bigint").alias("span_start"),
            (F.col("last_anchor") + F.lit(n - 1)).cast("bigint").alias("span_end"),
            (F.col("last_anchor") + F.lit(n) - F.col("first_anchor"))
            .cast("bigint")
            .alias("span_tokens"),
        )
    )


def excise_token_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    scope: str = "global",
    hash_grams: bool = False,
    spans: Optional[DataFrame] = None,
) -> DataFrame:
    """REMOVE the duplicated token spans from every document — the
    excision step completing :func:`duplicated_token_spans`' detection
    (Lee et al. 2022: drop every token inside a ≥n-token duplicated
    region; what remains is the deduplicated training text).

    ``spans`` defaults to ``duplicated_token_spans(df, ...)`` with the
    same parameters; pass the output of
    :func:`token_spans_from_store`-style probes to excise a shard against
    a maintained index instead.

    Scale shape: spans aggregate to one array per AFFECTED document
    (∝ duplicated volume), LEFT-join back on the id — a hash join on the
    document key, broadcastable while the affected set is small — then
    the token filter is one map-side array pass per document (zip tokens
    with positions, drop positions covered by any span).  No shuffle
    beyond the detection itself and the span join.

    Output: (id, text, n_tokens, n_tokens_removed) — ``text`` is the
    space-joined surviving NORMALIZED tokens (the same token stream the
    span offsets index), empty when a document is excised entirely."""
    from cassandra_util_spark.operators.text import _norm_tokens

    if spans is None:
        spans = duplicated_token_spans(
            df, id_col, text_col, n=n, scope=scope, hash_grams=hash_grams
        )
    slist = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = _norm_tokens(F.col(text_col))
    joined = (
        df.select(F.col(id_col), toks.alias("__w"))
        .join(slist, id_col, "left")
        .withColumn("__spans", F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
        ))
    )
    # sequence(0, -1) yields the DESCENDING [0, -1], not empty (the
    # _pair_counts footgun) — empty token streams short-circuit
    idx = F.when(
        F.size("__w") > 0, F.sequence(F.lit(0), F.size("__w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = F.zip_with(
        F.col("__w"), idx,
        lambda w, i: F.struct(w.alias("w"), i.cast("long").alias("i")),
    )
    kept = F.filter(
        pairs,
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s["i"] >= sp["span_start"]) & (s["i"] <= sp["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s["w"]), " ").alias(text_col),
        F.size("__w").cast("bigint").alias("n_tokens"),
        (F.size("__w") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


def gram_count_deltas(
    df: DataFrame, id_col: str, text_col: str, n: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """(g, c): one batch's n-gram occurrence counts — the ADDITIVE delta a
    gram-count :class:`~cassandra_util_spark.operators.counters.CounterStore`
    absorbs (keys ``("g",)``, counter ``("c",)``).  Counts are algebraic,
    so batches merge by summation exactly like counter cells; the
    combiner-reduced groupBy keeps each delta run at one row per distinct
    gram in the batch."""
    return (
        _gram_positions(df, id_col, text_col, n, hash_grams)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def token_spans_from_store(
    counters,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Token-granular duplicated spans for ``df``'s documents judged
    against a MAINTAINED gram-count store instead of a same-job corpus
    count — the incremental face of :func:`duplicated_token_spans`
    (global scope): a crawl pipeline streams gram-count deltas into the
    store (:func:`~cassandra_util_spark.streaming.dedup.stream_token_span_index`)
    and probes each new shard's spans against the ENTIRE ingested history
    without re-reading historical content — per-probe cost is the probe
    documents' grams plus one merge-on-read of the bounded count runs.

    ``counters`` is a CounterStore keyed ``("g",)`` with counter
    ``("c",)``; ``n``/``hash_grams`` must match what the index was built
    with (mismatched grams silently miss — same parameter-family
    discipline as the LSH/sampler stores).  Cross-document scope is a
    documented non-goal of the store form: occurrence counts merge
    additively across batches, distinct-document counts do not (they
    would need a per-gram doc-id sketch); use the batch operator for
    cross_doc.  When ``df`` IS the full ingested corpus, the result is
    bit-equal to the batch operator (hash-certified:
    `token_spans_streaming_view`)."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if list(counters.keys) != ["g"] or list(counters.counters) != ["c"]:
        raise ValueError(
            "token-span stores are keyed ('g',) with counter ('c',); got "
            f"keys={counters.keys} counters={counters.counters}"
        )
    spark = df.sparkSession
    dup = (
        counters.totals(spark)
        .filter(F.col("c") >= 2)
        .select("g")
    )
    grams = _gram_positions(df, id_col, text_col, n, hash_grams)
    anchors = grams.join(dup, "g").select("id", "pos")
    return _anchor_spans(anchors, id_col, n)
