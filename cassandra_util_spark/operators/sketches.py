"""Mergeable sketches as DataFrames: Count-Min (frequency) and HyperLogLog
(cardinality), built on the portable md5 hash family.

Why sketches as TABLES: at 100 TB the useful property is MERGEABILITY —
per-partition/per-day sketch tables union and re-aggregate (sum for CM, max
for HLL) into the global sketch without touching raw data again.  Both are
built here with exact integer arithmetic over engine-portable hashes
(``portable_hash32``), so unlike Spark's built-in ``count_min_sketch``/
``approx_count_distinct`` (opaque bytes, JVM-specific xxhash), every
register value and every estimate is bit-reproducible in ANY engine — the
same discipline that makes the MinHash/SimHash paths oracle-verifiable.

- Count-Min (Cormode & Muthukrishnan 2005): depth d hash rows × width w
  counters; point estimate = min over rows; never underestimates.
- HyperLogLog (Flajolet et al. 2007): p-bit bucket index + max
  leading-zero rank per bucket; the Σ2^-M harmonic term is computed as an
  EXACT integer sum of 2^(64-M) so the estimate is one deterministic
  double division, not a float reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_util_spark.functions import portable_hash32
from cassandra_util_spark.functions.windows import constant_partition_key

# fixed-point scale for HLL's alpha constants (driver-side literals)
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha_m(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def _cm_idx(key, i: int, width: int, seed: str, hash_fn: str):
    """Counter index for hash row i.  "portable" (default) is the md5-derived
    engine-reproducible family every oracle mirrors; "xxhash64" is the
    production fast path (JVM-native, no md5) — CM's guarantees hold for any
    pairwise-independent-ish family, only cross-engine reproducibility is
    given up (the minhash_lsh fast-mode discipline).

    NULL keys hash under a private sentinel ("\\x00null") instead of
    propagating NULL through concat→hash→pmod: a NULL index would strand
    null-key rows in a null counter cell, silently exclude them from the
    heavy-hitter gate (NULL estimate fails every filter), and undercount N.
    The sentinel shares a counter with a real "\\x00null" string key only in
    the CM estimate — an overestimate CM already tolerates; exact phases
    still group on the real (nullable) key."""
    salted = F.concat(F.lit(f"{seed}:{i}:"), F.coalesce(key, F.lit("\x00null")))
    if hash_fn == "portable":
        h = portable_hash32(salted)
    elif hash_fn == "xxhash64":
        h = F.xxhash64(salted)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return F.pmod(h, F.lit(width))


def count_min_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: str = "cm",
    hash_fn: str = "portable",
) -> DataFrame:
    """Build a Count-Min sketch as a (row, idx, c) table — at most
    depth × width rows regardless of input size.

    Each hash row i indexes by ``hash(seed:i:key) % width`` with the
    family chosen by ``hash_fn`` (see :func:`_cm_idx`).
    The depth rows are built in ONE scan: each input row explodes to its
    depth (row, idx) cells, then one partial-aggregated groupBy counts
    them — the input (which may itself be an expensive derivation, e.g. an
    n-gram explode) is never re-scanned per hash row.  Sketches over
    splits of the data merge by ``union → groupBy(row, idx).sum(c)`` —
    counter addition is exactly how CM composes.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    key = F.col(key_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _cm_idx(key, i, width, seed, hash_fn).alias("idx"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("e"))
        .select("e.row", "e.idx")
        .groupBy("row", "idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def count_min_query(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: str = "cm",
    hash_fn: str = "portable",
) -> DataFrame:
    """Point-estimate each key: min over the depth rows of its counters.
    The sketch is at most depth × width rows — always broadcast-sized
    (that is the point of a sketch)."""
    key = F.col(key_col).cast("string")
    probes = keys.select(
        key_col,
        *[
            _cm_idx(key, i, width, seed, hash_fn).alias(f"idx{i}")
            for i in range(depth)
        ],
    )
    est = probes
    for i in range(depth):
        side = sketch.filter(F.col("row") == i).select(
            F.col("idx").alias(f"idx{i}"), F.col("c").alias(f"c{i}")
        )
        est = est.join(F.broadcast(side), f"idx{i}", "left")
    counters = [F.coalesce(F.col(f"c{i}"), F.lit(0)) for i in range(depth)]
    return est.select(
        key_col, F.least(*counters).cast("bigint").alias("cm_estimate")
    )


def hll_build(df: DataFrame, key_col: str, p: int = 9, seed: str = "hll") -> DataFrame:
    """Build an HLL register table (bucket, register) — at most 2^p rows.

    The 32-bit portable hash splits: low p bits → bucket, the remaining
    (32-p) bits → rank = leading-zero count + 1 (computed via the integer
    log2: rank = (32-p) - floor(log2(rest)) when rest > 0, else the max
    (32-p)+1).  Registers MERGE by max — union two register tables and
    ``groupBy(bucket).max`` is the cross-split/cross-day composition.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    h = portable_hash32(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    bucket = F.pmod(h, F.lit(1 << p))
    rest = F.shiftright(h, p)  # top 32-p bits
    bits = 32 - p
    # floor(log2(rest)) via bigint-safe log; rest==0 => all-zero suffix
    rank = F.when(rest == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits) - F.floor(F.log2(rest.cast("double")))
    )
    return (
        df.select(bucket.alias("bucket"), rank.cast("bigint").alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("register"))
    )


def hll_build_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    p: int = 9,
    seed: str = "hll",
) -> DataFrame:
    """Per-group HLL register tables — one sketch per group value in one
    pass ((group, bucket) partial-aggregated max).  The warehouse staple
    "distinct users per day/source" at any scale: output is
    |groups| × ≤2^p rows, merges across splits by the same max law."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    h = portable_hash32(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    bucket = F.pmod(h, F.lit(1 << p))
    rest = F.shiftright(h, p)
    bits = 32 - p
    rank = F.when(rest == 0, F.lit(bits + 1)).otherwise(
        F.lit(bits) - F.floor(F.log2(rest.cast("double")))
    )
    return (
        df.select(
            F.col(group_col).alias("grp"),
            bucket.alias("bucket"),
            rank.cast("bigint").alias("r"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("r").alias("register"))
    )


def hll_estimate_grouped(registers: DataFrame, p: int = 9) -> DataFrame:
    """Per-group cardinality estimates from grouped register tables; the
    harmonic term Σ 2^-M_j summed as EXACT integers Σ 2^(40 - M_j)
    (M_j ≤ 32-p+1 ≤ 29 < 40), so the only float steps are one division and
    the small-range correction's ln — deterministic double ops over
    identical integers in any engine.  One row per group."""
    m = 1 << p
    alpha = _alpha_m(m)
    two40 = float(1 << 40)
    agg = registers.groupBy("grp").agg(
        F.count(F.lit(1)).alias("filled"),
        F.sum(F.expr("shiftleft(1L, cast(40 - register AS int))")).alias("s_filled"),
    )
    raw = F.round(
        F.lit(alpha * m * m)
        / (
            (F.col("s_filled") + (F.lit(m) - F.col("filled")) * F.lit(1 << 40)).cast(
                "double"
            )
            / F.lit(two40)
        ),
        4,
    )
    return agg.select(
        "grp",
        (F.lit(m) - F.col("filled")).cast("bigint").alias("n_zero"),
        raw.alias("raw_estimate"),
    ).select(
        "grp",
        "n_zero",
        "raw_estimate",
        F.when(
            (F.col("raw_estimate") <= 2.5 * m) & (F.col("n_zero") > 0),
            F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero")), 4),
        )
        .otherwise(F.col("raw_estimate"))
        .alias("estimate"),
    )


def cm_join_size_estimate(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two Count-Min sketches built on
    the SAME (depth, width, seed): |A ⋈ B| ≈ min over hash rows of the
    counter inner product Σ_idx cA·cB (AMS/CM inner-product estimation,
    Cormode & Muthukrishnan 2005 §4.2; always an OVERestimate, like the
    point queries).

    This is the sketch-driven JOIN PLANNER input: at 100 TB, deciding
    broadcast vs shuffle vs salting needs the join's output size BEFORE
    running it — two tiny sketch tables (built once per table, mergeable
    across partitions) answer it with exact-integer arithmetic and no scan
    of either side.  Output: 1 row (join_size_estimate).
    """
    a = sketch_a.select("row", "idx", F.col("c").alias("ca"))
    b = sketch_b.select("row", "idx", F.col("c").alias("cb"))
    per_row = (
        a.join(b, ["row", "idx"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    return per_row.agg(F.min("ip").cast("bigint").alias("join_size_estimate"))


def heavy_hitters_exact(
    df: DataFrame,
    key_col: str,
    phi: float,
    depth: int = 4,
    width: int = 1024,
    seed: str = "hh",
    hash_fn: str = "portable",
) -> DataFrame:
    """Exact φ-heavy hitters with a Count-Min pre-shuffle gate: every key
    whose true frequency is ≥ ceil(phi · N), with its EXACT count.

    The two-phase shape is the point at 100 TB.  A plain
    ``groupBy(key).count()`` over a huge-cardinality key (URLs, n-grams,
    session ids) shuffles one record per distinct key per map partition —
    for Zipfian data that is almost entirely tail keys that can never reach
    the threshold.  Phase A broadcasts the CM sketch (≤ depth × width rows,
    fixed size by construction) back onto the raw rows and drops every row
    whose key's CM estimate is already below the threshold — map-side, no
    shuffle, and safe because CM point estimates never UNDERestimate
    (Cormode & Muthukrishnan 2005): a dropped key provably has true count
    < threshold, so there are no false negatives.  Phase B exact-counts
    only the survivors (heavy keys compress well under map-side partial
    aggregation) and applies the threshold again, removing CM's false
    positives.  Output is therefore exactly the φ-heavy-hitter set — the
    sketch changes the PLAN, never the answer.

    N (the total row count) is read off the sketch itself — row 0's
    counters partition the input, so Σc over row 0 is exact and free.
    The sketch is COLLECTED to the driver and re-emitted as depth literal
    arrays of width counters: legitimate at any input scale because its
    size is ≤ depth × width BY CONSTRUCTION (the O(K) centroid-collect
    discipline — bounded driver transfer, never data-dependent), and it
    turns the gate into pure map-side expressions with O(1) array-literal
    lookups — no joins at all, and the input is scanned exactly twice
    (single-pass sketch build + gated pass).  Cache ``df`` upstream if
    the source scan itself dominates.

    On this repo's synthetic corpus the bigram distribution is nearly
    uniform, so the gate only removes ~30% of rows at sf0.01; on a Zipfian
    corpus the same gate removes the ~99% tail.  Measured
    (test_heavy_hitters_gate_prunes_zipf_tail, rank-frequency 1/r over
    2000 distinct keys, phi=0.01, depth=4 width=1024): 12 of 2000 keys
    (0.6%) clear the gate — exactly the 12 true heavy hitters, zero CM
    false positives at that width — so 99.4% of distinct keys never reach
    the exact-count shuffle.  The constant-factor claims are
    distribution-dependent; the correctness contract is not.

    NULL keys participate like any other value (sentinel-hashed in the
    gate, grouped as SQL NULL in the exact phase) — a NULL whose true
    frequency clears ceil(phi·N) is reported, as a plain GROUP BY would.
    """
    import math

    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    counters = _collect_cm_counters(
        count_min_build(df, key_col, depth, width, seed, hash_fn), depth, width
    )
    total = sum(counters[0])
    thr = max(1, math.ceil(phi * total))
    return (
        _cm_gate(df, key_col, counters, thr, seed, hash_fn)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(thr))
    )


def _collect_cm_counters(sketch: DataFrame, depth: int, width: int) -> list:
    """Collect a CM sketch table into a depth × width counter matrix.

    Bounded driver transfer BY CONSTRUCTION (≤ depth · width rows, never
    data-dependent — the O(K) centroid-collect discipline).  Cells outside
    the claimed shape mean the sketch was built with DIFFERENT parameters
    than the caller is about to hash with — estimates would be silently
    wrong, so it raises."""
    counters = [[0] * width for _ in range(depth)]
    for r in sketch.collect():
        if not (0 <= r["row"] < depth and 0 <= r["idx"] < width):
            raise ValueError(
                f"sketch cell (row={r['row']}, idx={r['idx']}) is outside "
                f"depth={depth} x width={width} — the sketch was built with "
                "different parameters than this query claims"
            )
        counters[r["row"]][r["idx"]] = r["c"]
    return counters


def _cm_gate(
    df: DataFrame,
    key_col: str,
    counters: list,
    threshold: int,
    seed: str,
    hash_fn: str,
) -> DataFrame:
    """Map-side CM pre-filter: keep rows whose key's CM point estimate
    (min over depth array-literal lookups — pure expressions, no joins)
    reaches ``threshold``.  Safe as a gate because CM never underestimates:
    a dropped key provably has true count < threshold."""
    depth, width = len(counters), len(counters[0])
    key = F.col(key_col).cast("string")
    est = F.least(
        *[
            F.element_at(
                F.lit(counters[i]),
                _cm_idx(key, i, width, seed, hash_fn).cast("int") + F.lit(1),
            )
            for i in range(depth)
        ]
    )
    return df.filter(est >= F.lit(threshold))


def heavy_hitters_from_store(
    store,
    df: DataFrame,
    key_col: str,
    phi: float,
    depth: int = 4,
    width: int = 256,
    seed: str = "cm",
    hash_fn: str = "portable",
) -> DataFrame:
    """Exact φ-heavy hitters gated by a MAINTAINED sketch instead of a
    rebuild — the consumption pattern the streaming maintenance promises
    (VERDICT r5 task 7).

    ``store`` is the :class:`~cassandra_util_spark.sources.snapshots.
    SnapshotStore` a ``stream_count_min_to_store`` query keeps current; the
    parameters must MATCH that build (defaults mirror its defaults; a shape
    mismatch raises rather than mis-hashing).  ``df`` is the table the
    stream has been sketching — typically the run-store view of the same
    drained stream.

    At 100 TB this splits heavy-hitter cost into the part the stream
    already paid (the sketch: one bounded merge per micro-batch) and the
    part only the caller's moment needs (one gated scan + exact count of
    survivors).  ``heavy_hitters_exact``'s sketch-build pass — a second
    full scan of the input — disappears; the input is scanned ONCE.  The
    threshold N comes off the persisted sketch (Σ of hash-row 0), so the
    gate is consistent with the stream's history: over the exact drained
    content it equals gate-from-rebuild cell for cell, and the exact phase
    removes CM false positives either way.
    """
    import math

    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    counters = _collect_cm_counters(store.read(df.sparkSession), depth, width)
    total = sum(counters[0])
    thr = max(1, math.ceil(phi * total))
    return (
        _cm_gate(df, key_col, counters, thr, seed, hash_fn)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(thr))
    )


def plan_join(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "pj",
    hash_fn: str = "portable",
    broadcast_threshold_rows: int = 1_000_000,
    skew_factor: int = 16,
) -> DataFrame:
    """Sketch-driven join planning: advisory broadcast/shuffle/salt choice
    for ``a ⨝ b ON key_col``, decided from two Count-Min sketches WITHOUT
    scanning either side twice or running the join.

    At 100 TB the plan decision needs three numbers before execution: each
    side's row count, the join's output cardinality, and whether one key
    dominates (the shuffle-skew killer).  All three fall out of the CM
    sketch tables (≤ depth × width rows each, mergeable across partitions
    and days):

    - ``n_a``/``n_b``: Σ of hash-row 0's counters — exact, the counters
      partition the input.
    - ``join_size_estimate``: min-over-rows counter inner product
      (:func:`cm_join_size_estimate`; one-sided overestimate).
    - ``max_key_est_*``: min over hash rows of the row's max counter — an
      upper bound on EVERY key's frequency, hence on the hottest key's
      (conservative by ~n/width collision noise; documented, not hidden).

    Advice ladder (mirrors what AQE decides at runtime, but available at
    plan time): broadcast the smaller side when it fits
    ``broadcast_threshold_rows``; else if the hottest key on either side
    can exceed 1/``skew_factor`` of its side's rows, shuffle WITH salting
    (AQE's skew-join split would otherwise kick in mid-query); else plain
    shuffle.  Output: one row (n_a, n_b, join_size_estimate,
    max_key_est_a, max_key_est_b, advice).

    Each advice value has an executor: :func:`advised_join` maps
    "broadcast_*" → ``F.broadcast`` on that side, "shuffle_salted" →
    :func:`cassandra_util_spark.functions.skew.salted_join` (buckets ≈
    max_key_est / (n / distinct-estimate), the documented formula),
    "shuffle" → plain join.  PLANS.md's audit appends a cross-check that
    the advisory matches AQE's runtime choice for the contract query's
    join.

    Execution shape: each side is scanned EXACTLY ONCE (its sketch build),
    and the two sketch tables are collected to the driver — bounded by
    construction at ≤ depth × width rows each, the same O(K) collect
    discipline as ``heavy_hitters_exact`` — where every statistic is exact
    integer arithmetic over the counters.  (The previous declarative form
    re-derived the sketch under three different aggregates; Catalyst does
    not reuse an exchange across differently-shaped aggregation subtrees,
    so each side was scanned three times — the opposite of what a
    plan-time advisory may cost at 100 TB.  This call is therefore EAGER:
    the two sketch scans run when it is invoked.)
    """
    st = _plan_join_stats(a, b, key_col, depth, width, seed, hash_fn)
    advice = _join_advice(st, broadcast_threshold_rows, skew_factor)
    spark = a.sparkSession
    return _advice_row(spark, st, advice)


def _plan_join_stats(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    depth: int,
    width: int,
    seed: str,
    hash_fn: str,
) -> dict:
    """All plan_join inputs as exact integers from one collected CM sketch
    per side: row counts (Σ row-0 counters — exact, they partition the
    input), per-side hottest-key upper bounds (min over rows of the row
    max), the CM inner-product join-size overestimate, and a
    linear-counting distinct estimate (Whang et al. 1990: d ≈ −w·ln(z/w)
    from the z zero counters of a hash row; saturates to n when no counter
    is zero) used by :func:`advised_join` to size salt buckets."""
    ca = _collect_cm_counters(
        count_min_build(a, key_col, depth, width, seed, hash_fn), depth, width
    )
    cb = _collect_cm_counters(
        count_min_build(b, key_col, depth, width, seed, hash_fn), depth, width
    )
    return _stats_from_counters(ca, cb, width)


def _advice_row(spark, st: dict, advice: str) -> DataFrame:
    return spark.createDataFrame(
        [
            (
                st["n_a"],
                st["n_b"],
                st["join_size_estimate"],
                st["max_key_est_a"],
                st["max_key_est_b"],
                advice,
            )
        ],
        "n_a bigint, n_b bigint, join_size_estimate bigint, "
        "max_key_est_a bigint, max_key_est_b bigint, advice string",
    )


def _stats_from_counters(ca: list, cb: list, width: int) -> dict:
    import math

    def side(c: list) -> tuple:
        n = sum(c[0])
        mx = min(max(row) for row in c)
        zeros = c[0].count(0)
        if n == 0:
            d = 0
        elif zeros > 0:
            d = min(n, max(1, round(-width * math.log(zeros / width))))
        else:
            d = n  # every counter hit: linear counting saturated
        return n, mx, d

    n_a, mx_a, d_a = side(ca)
    n_b, mx_b, d_b = side(cb)
    jse = min(sum(x * y for x, y in zip(ra, rb)) for ra, rb in zip(ca, cb))
    return {
        "n_a": n_a,
        "n_b": n_b,
        "join_size_estimate": jse,
        "max_key_est_a": mx_a,
        "max_key_est_b": mx_b,
        "distinct_est_a": d_a,
        "distinct_est_b": d_b,
    }


def _join_advice(st: dict, broadcast_threshold_rows: int, skew_factor: int) -> str:
    """The advice ladder, shared by plan_join (reports) and advised_join
    (executes) so the two can never disagree."""
    if st["n_b"] <= broadcast_threshold_rows and st["n_b"] <= st["n_a"]:
        return "broadcast_b"
    if st["n_a"] <= broadcast_threshold_rows:
        return "broadcast_a"
    if (
        st["max_key_est_a"] * skew_factor >= st["n_a"]
        or st["max_key_est_b"] * skew_factor >= st["n_b"]
    ):
        return "shuffle_salted"
    return "shuffle"


def advised_join(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    how: str = "inner",
    depth: int = 4,
    width: int = 1024,
    seed: str = "pj",
    hash_fn: str = "portable",
    broadcast_threshold_rows: int = 1_000_000,
    skew_factor: int = 16,
    max_salt_buckets: int = 64,
) -> DataFrame:
    """Execute ``a ⨝ b ON key_col`` the way :func:`plan_join` advises —
    the advisory made an executor (VERDICT r5 task 3).

    The advice string maps to a physical strategy that changes the PLAN,
    never the answer (every branch is row-identical to the plain join,
    pinned by test):

    - ``broadcast_b`` / ``broadcast_a`` → ``F.broadcast`` hint on that
      side (Spark ignores an infeasible hint — e.g. broadcasting the
      preserved side of an outer join — and degrades to shuffle).
    - ``shuffle_salted`` → :func:`~cassandra_util_spark.functions.skew.
      salted_join`, with buckets from the documented formula
      ``ceil(max_key_est / (n / distinct_est))`` — hot-key rows over
      average-key rows, the replication factor that levels the hot
      reducer — clamped to [2, ``max_salt_buckets``] (the linear-counting
      distinct estimate comes off the same collected sketch; no extra
      scan).  For an inner join whose skew sits only on ``b``, the sides
      are swapped into the salted join (salting's LEFT side should be the
      hot one, its right the replicated one) and the output re-projected
      to the canonical column order.
    - ``shuffle`` → plain join.

    Non-key column names must be distinct across ``a`` and ``b`` (the
    output projects key, then a's columns, then b's — identical order on
    every branch).  Reference anchor: CQLBatch.scala:56-67 routes work by
    data shape decided before execution; this routes the join the same
    way.
    """
    st = _plan_join_stats(a, b, key_col, depth, width, seed, hash_fn)
    return _execute_advice(a, b, key_col, how, st, skew_factor,
                           broadcast_threshold_rows, max_salt_buckets)


def _execute_advice(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    how: str,
    st: dict,
    skew_factor: int,
    broadcast_threshold_rows: int,
    max_salt_buckets: int,
) -> DataFrame:
    import math

    from cassandra_util_spark.functions.skew import salted_join

    if how not in ("inner", "left"):
        raise ValueError(f"advised_join supports inner/left, got {how!r}")
    dup = (set(a.columns) & set(b.columns)) - {key_col}
    if dup:
        raise ValueError(f"non-key columns appear on both sides: {sorted(dup)}")
    advice = _join_advice(st, broadcast_threshold_rows, skew_factor)
    out_cols = (
        [key_col]
        + [c for c in a.columns if c != key_col]
        + [c for c in b.columns if c != key_col]
    )

    def buckets_for(side: str) -> int:
        n, mx, d = st[f"n_{side}"], st[f"max_key_est_{side}"], st[f"distinct_est_{side}"]
        avg = max(1.0, n / max(1, d))
        return min(max_salt_buckets, max(2, math.ceil(mx / avg)))

    if advice == "broadcast_b":
        out = a.join(F.broadcast(b), key_col, how)
    elif advice == "broadcast_a":
        out = F.broadcast(a).join(b, key_col, how)
    elif advice == "shuffle_salted":
        skew_a = st["max_key_est_a"] * skew_factor >= st["n_a"]
        skew_b = st["max_key_est_b"] * skew_factor >= st["n_b"]
        if how == "inner" and skew_b and not skew_a:
            out = salted_join(b, a, [key_col], "inner", buckets_for("b"))
        else:
            out = salted_join(
                a, b, [key_col], how, buckets_for("a" if skew_a else "b")
            )
    else:
        out = a.join(b, key_col, how)
    return out.select(*out_cols)


# ---------------------------------------------------------------------------
# Bottom-k (KMV) row sample: deterministic mergeable uniform sample +
# quantile estimation — the distribution-shape member of the sketch family
# (CM = frequency, HLL = cardinality, bottom-k = quantiles/moments)
# ---------------------------------------------------------------------------

def bottomk_sample(
    df: DataFrame,
    key_col: str,
    k: int = 256,
    payload: tuple = (),
    seed: str = "bk",
    hash_fn: str = "portable",
) -> DataFrame:
    """K-minimum-values row sample: the ``k`` rows whose keyed hash is
    smallest, with deterministic ties ((h, key) ascending).  Because the
    hash is a pure function of the key, the sample is (a) DETERMINISTIC —
    the same table yields the same sample on any cluster, so an external
    engine can replay it exactly (portable md5 hash, the CM/HLL
    convention); (b) UNIFORM — md5 is uniform over keys, so the sampled
    rows are an unbiased size-k row sample; (c) MERGEABLE — the bottom-k
    of a union is the bottom-k of the parts' bottom-k's
    (:func:`bottomk_merge`), which is what makes per-shard/per-batch
    maintenance work without ever rescanning history.

    Scale shape: ``orderBy(h).limit(k)`` compiles to TakeOrderedAndProject
    — each partition keeps its own k smallest rows (O(k) heap, map-side),
    and only #partitions·k rows ever move.  ``hash_fn="xxhash64"`` is the
    JVM-native fast path (same pattern as the LSH/simhash twins); the
    portable default is what the DuckDB oracle certifies.
    """
    key = F.col(key_col).cast("string")
    salted = F.concat(F.lit(f"{seed}:"), key)
    if hash_fn == "portable":
        h = portable_hash32(salted)
    elif hash_fn == "xxhash64":
        h = F.xxhash64(salted)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    cols = [F.col(key_col), *[F.col(c) for c in payload]]
    return (
        df.select(h.alias("h"), *cols)
        .orderBy(F.col("h").asc(), F.col(key_col).asc())
        .limit(k)
    )


def bottomk_merge(
    *samples: DataFrame,
    k: int = 256,
    key_col: str = "doc_id",
    priority_col: str = "h",
) -> DataFrame:
    """Merge bottom-k samples (same seed/key domain): union, keep the k
    smallest — the closure property that lets shard-local samples roll up
    to the corpus sample without touching the corpus again.  Works for
    both the uniform layout (``priority_col="h"``, :func:`bottomk_sample`)
    and the weighted layout (``priority_col="pri"``,
    :func:`weighted_bottomk_sample`) — the Efraimidis-Spirakis priority is
    a pure per-key function too, so the same closure law holds.

    When the same key appears in several inputs with DIFFERENT payload or
    priority (a document's attributes changed between micro-batches), the
    survivor is picked deterministically — smallest (priority, payload...)
    tuple — not by ``dropDuplicates`` arrival order, so a replayed or
    re-ordered merge reproduces the same sample bit-for-bit (ADVICE r9).
    The tiebreak sorts ascending with NULLS FIRST (Spark's ascending
    default), so a null payload beats any non-null one for the same
    priority; payload columns whose type transitively contains a map
    (map itself, array<map>, struct with a map field, ...) are not
    orderable — Spark's ``TypeUtils`` ordering rule — and are EXCLUDED
    from the tiebreak (ADVICE r10/r11): two versions of a key that
    differ only in such a column are resolved by whichever orderable
    columns differ, or arbitrarily (but still to a single row) if none
    do.  Keep payloads to orderable types for full replay determinism."""
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _contains_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _contains_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_contains_map(f.dataType) for f in dt.fields)
        return False

    out = samples[0]
    for s in samples[1:]:
        out = out.unionByName(s)
    unorderable = {
        f.name for f in out.schema.fields if _contains_map(f.dataType)
    }
    others = [c for c in out.columns if c != key_col and c not in unorderable]
    tie = [F.col(priority_col).asc()] + [
        F.col(c).asc() for c in sorted(others) if c != priority_col
    ]
    w = Window.partitionBy(key_col).orderBy(*tie)
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy(F.col(priority_col).asc(), F.col(key_col).asc())
        .limit(k)
    )


def sample_quantiles(
    sample: DataFrame,
    value_col: str,
    probs: tuple = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
    key_col: str = "doc_id",
) -> DataFrame:
    """Quantile estimates from a bottom-k sample: for each probability p,
    the sample value at rank ``floor(p · (n-1)) + 1`` under a TOTAL order
    ((value, key) ascending — the deterministic-tiebreak rule every top-k
    in this repo follows).  With a uniform size-k sample the estimate's
    rank error is O(1/sqrt(k)) of the population — k=256 gives ~6%
    rank error, plenty for shard planning, length-bound fitting, and skew
    alerts, at a fixed 256-row cost per 100 TB table.  Exact-integer rank
    arithmetic, so the estimate replays bit-identically in SQL.

    The ranking window partitions on a constant: the input is a ≤k-row
    sketch BY CONSTRUCTION (this function consumes bottom-k output, never
    raw tables), so a single-partition window is the correct plan — the
    constant key states that invariant and keeps Spark's global-sort WARN
    out of every log (hash-neutral; VERDICT r9 #7)."""
    from pyspark.sql import Window

    cpk = constant_partition_key(F.col(key_col))
    w = Window.partitionBy(cpk).orderBy(
        F.col(value_col).asc(), F.col(key_col).asc()
    )
    ranked = sample.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(cpk))
    )
    probs_df = ranked.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "p double"
    )
    return (
        ranked.crossJoin(F.broadcast(probs_df))
        .filter(
            F.col("__r")
            == F.floor(F.col("p") * (F.col("__n") - 1)).cast("int") + F.lit(1)
        )
        .select("p", F.col(value_col).alias("estimate"))
        .orderBy("p")
    )


def bottomk_sample_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 64,
    payload: tuple = (),
    seed: str = "bk",
    hash_fn: str = "portable",
) -> DataFrame:
    """Per-group bottom-k: each group keeps its own k hash-smallest rows —
    the grouped form of :func:`bottomk_sample` (same determinism,
    uniformity-within-group, and shard-merge closure, now per group key).
    One shuffle on the group key; the rank window's per-partition state is
    O(k) per group.  Group SKEW is handled by Catalyst's rank pushdown:
    rank ≤ k over a per-group window compiles to a PARTIAL
    WindowGroupLimit before the exchange (each map task pre-keeps its own
    k per group), so a hot group ships ≤ maps·k rows instead of its whole
    volume into one task — pinned in tests/test_weighted_logcost.py.
    This is the sketch behind per-domain / per-language distribution
    monitoring: a 100 TB corpus with 200 languages reduces to a 200·k-row
    table any planner can read."""
    from pyspark.sql import Window

    key = F.col(key_col).cast("string")
    salted = F.concat(F.lit(f"{seed}:"), key)
    if hash_fn == "portable":
        h = portable_hash32(salted)
    elif hash_fn == "xxhash64":
        h = F.xxhash64(salted)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    w = Window.partitionBy(group_col).orderBy(F.col("h").asc(), F.col(key_col).asc())
    return (
        df.select(F.col(group_col), h.alias("h"), F.col(key_col),
                  *[F.col(c) for c in payload])
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def sample_quantiles_grouped(
    sample: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple = (0.25, 0.5, 0.75, 0.9),
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile estimates from a grouped bottom-k sample: the
    :func:`sample_quantiles` rank rule applied within each group (rank =
    floor(p·(n_g−1))+1 under the (value, key) total order, n_g = the
    group's sample size).  Exact-integer arithmetic — replays
    bit-identically in SQL."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(key_col).asc()
    )
    ranked = sample.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(group_col))
    )
    probs_df = ranked.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "p double"
    )
    return (
        ranked.crossJoin(F.broadcast(probs_df))
        .filter(
            F.col("__r")
            == F.floor(F.col("p") * (F.col("__n") - 1)).cast("int") + F.lit(1)
        )
        .select(F.col(group_col), "p", F.col(value_col).alias("estimate"))
    )


def weighted_bottomk_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 256,
    payload: tuple = (),
    seed: str = "wbk",
    max_weight: int = 10_000,
) -> DataFrame:
    """Weighted bottom-k: a deterministic weighted sample WITHOUT
    replacement — each row's priority is the MINIMUM of ``weight`` keyed
    hashes, and the k smallest priorities win.

    Why that is exact: the minimum of w iid uniforms is distributed as
    u^(1/w), which is precisely the Efraimidis-Spirakis (2006) priority
    for weight w — so integer weights get the textbook weighted
    without-replacement sample with NO floating-point priorities to
    replay (pow/ln differ in the last ulp across engines; a min over
    integer hash words replays bit-for-bit in SQL).  Same closure as
    :func:`bottomk_sample`: priorities are pure per-key functions, so
    shard/batch samples merge losslessly.

    Scale shape: priority is a map-only ``array_min`` over a
    weight-length hash array — cost ∝ sum(weights), the honest E-S cost
    OF THIS FORM.  ``max_weight`` fails loudly on weights that would make
    the per-row array pathological; for larger weights (token counts,
    byte sizes — 10^4-10^6) use :func:`weighted_bottomk_sample_logcost`,
    which draws the same E-S distribution at O(log²w) per row.  Weights
    < 1 raise: a zero-weight row has no replica and silently vanishing
    rows is the failure mode a sampler must not have.
    """
    key = F.col(key_col).cast("string")
    w = F.col(weight_col).cast("int")
    guard = F.when(
        (w >= 1) & (w <= max_weight), w
    ).otherwise(
        F.raise_error(F.concat(
            F.lit(f"weighted_bottomk_sample: weight out of [1, {max_weight}] "
                  f"for {key_col}="), key,
            F.lit(f" ({weight_col}="), F.col(weight_col).cast("string"), F.lit(")"),
        ))
    )
    pri = F.array_min(
        F.transform(
            F.sequence(F.lit(1), guard),
            lambda i: portable_hash32(
                F.concat(F.lit(f"{seed}:"), key, F.lit(":"), i.cast("string"))
            ),
        )
    )
    cols = [F.col(key_col), F.col(weight_col), *[F.col(c) for c in payload]]
    return (
        df.select(pri.alias("pri"), *cols)
        .orderBy(F.col("pri").asc(), F.col(key_col).asc())
        .limit(k)
    )


def weighted_bottomk_sample_logcost(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 256,
    payload: tuple = (),
    seed: str = "wbk",
    max_weight_bits: int = 31,
) -> DataFrame:
    """Log-cost weighted bottom-k: the Efraimidis-Spirakis weighted
    sample WITHOUT replacement at O(log²w) per row instead of
    :func:`weighted_bottomk_sample`'s O(w) — the path for realistic
    token-count weights (10^4-10^6), which blow past the replica form's
    ``max_weight`` guard.

    Construction (exact binary-block decomposition): write the weight in
    binary, w = Σ_{j∈bits(w)} 2^j.  The min of w iid uniforms is then the
    min over set bits of INDEPENDENT block minima, where block j's
    minimum — the min of 2^j iid uniforms — is drawn exactly from ONE
    keyed uniform by inverse CDF:

        M_j = 1 - (1 - U_j)^(2^-j)   with   P(M_j ≤ x) = 1-(1-x)^(2^j)

    and the dyadic exponent makes the power j NESTED SQUARE ROOTS.  That
    is the whole trick: IEEE-754 requires sqrt to be CORRECTLY ROUNDED,
    so — unlike pow/ln, whose last ulp differs across libms — every
    engine computes bit-identical priorities.  The full chain is
    bit-exact everywhere: (h + 0.5) and /2^32 are exact in binary64,
    subtraction and sqrt are correctly rounded, and least() compares
    exactly, so the draw replays bit-for-bit in DuckDB SQL just like the
    integer replica form.

    Exactness: the DISTRIBUTION is E-S exact up to (a) the 2^-32
    discretization of each U_j — identical granularity to the replica
    form's 32-bit hashes — and (b) ≤ j ulps (≈ j·2^-52 relative) of sqrt
    composition rounding per block.  Both are quantified in
    ``tests/test_weighted_logcost.py`` by a KS test against the exact
    min-of-w CDF.

    Scale shape: map-only, ≤ ``max_weight_bits`` branches of ≤ j sqrts
    each (Σ ≈ 465 flops at the default 31 bits — raised from 21 in r12
    for guard headroom; the extra branches are sentinel-valued for any
    weight below 2^21, so priorities for in-range weights are unchanged)
    regardless of the weight's value, so per-row cost is O(log²w) and
    sum(weights) never appears.  Same
    closure as every bottom-k: priorities are pure functions of
    (seed, key, weight), so shard/batch samples merge losslessly.
    Weights outside [1, 2^max_weight_bits) raise — silently vanishing
    rows (w < 1) or silently truncated bits are the failure modes a
    sampler must not have.

    Reference anchor: the reference's deletion sampling is uniform
    (``DeletingCompactionStrategy`` keeps/drops whole rows); weighted
    curation sampling is this repo's training-data extension
    (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    reservoir").
    """
    pri = _logcost_priority(key_col, weight_col, seed, max_weight_bits)
    cols = [F.col(key_col), F.col(weight_col), *[F.col(c) for c in payload]]
    return (
        df.select(pri.alias("pri"), *cols)
        .orderBy(F.col("pri").asc(), F.col(key_col).asc())
        .limit(k)
    )


def _logcost_priority(
    key_col: str, weight_col: str, seed: str, max_weight_bits: int
):
    """The binary-block E-S priority expression shared by the global and
    grouped log-cost samplers (see :func:`weighted_bottomk_sample_logcost`
    for the construction and the bit-exactness argument)."""
    key = F.col(key_col).cast("string")
    w = F.col(weight_col).cast("bigint")
    limit = 1 << max_weight_bits
    guarded = F.when((w >= 1) & (w < limit), w).otherwise(
        F.raise_error(F.concat(
            F.lit(f"weighted_bottomk_sample_logcost: weight out of "
                  f"[1, {limit}) for {key_col}="), key,
            F.lit(f" ({weight_col}="), F.col(weight_col).cast("string"),
            F.lit(")"),
        ))
    )
    terms = []
    for j in range(max_weight_bits):
        u = (
            portable_hash32(
                F.concat(F.lit(f"{seed}:"), key, F.lit(f":b{j}"))
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(4294967296.0)
        x = F.lit(1.0) - u
        for _ in range(j):
            x = F.sqrt(x)
        block_min = F.lit(1.0) - x
        terms.append(
            F.when(
                F.shiftright(guarded, j).bitwiseAND(F.lit(1)) == 1, block_min
            ).otherwise(F.lit(9.0))
        )
    return F.least(*terms)


def weighted_bottomk_sample_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int = 64,
    payload: tuple = (),
    seed: str = "wbk",
    max_weight_bits: int = 31,
) -> DataFrame:
    """Per-group weighted bottom-k WITHOUT replacement: each group keeps
    its own k Efraimidis-Spirakis winners under the LOG-COST priority —
    the stratified curation sampler (a per-language / per-source /
    per-domain token-count-weighted sample in one pass).  The uniform
    twin is :func:`bottomk_sample_grouped`; this is its weighted form,
    built for realistic weights (the log-cost priority, so 10^4-10^6
    token counts cost O(log²w) per row, not O(w)).

    Same laws as every bottom-k in this family, now per group:
    DETERMINISTIC (priority is a pure (seed, key, weight) function — the
    same draw as :func:`weighted_bottomk_sample_logcost`, so a group's
    sample is independent of which other groups share the pass and
    replays bit-for-bit in SQL), length-BIASED exactly ∝ weight within
    each group, and MERGEABLE shard-wise (union + re-rank per group).

    Scale shape: one shuffle on the group key; the rank window's
    per-partition state is O(k) per group, and group skew is absorbed by
    Catalyst's PARTIAL WindowGroupLimit (map-side per-group top-k before
    the exchange, test-pinned) — a 100 TB corpus with 200 languages
    reduces to a 200·k-row weighted sample in one pass instead of 200
    filtered global samples, even when one language dominates."""
    from pyspark.sql import Window

    pri = _logcost_priority(key_col, weight_col, seed, max_weight_bits)
    w = Window.partitionBy(group_col).orderBy(
        F.col("pri").asc(), F.col(key_col).asc()
    )
    return (
        df.select(
            F.col(group_col), pri.alias("pri"), F.col(key_col),
            F.col(weight_col), *[F.col(c) for c in payload],
        )
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def weighted_logcost_priority_sql(
    key_expr: str, weight_expr: str, seed: str = "wbk", max_weight_bits: int = 31
) -> str:
    """DuckDB SQL computing exactly :func:`weighted_bottomk_sample_logcost`'s
    priority — the same unrolled binary-block decomposition, generated from
    the same loop so the two engines cannot drift.

    The seed is inlined as a SQL string literal, so it is restricted to a
    quote-free charset (raise, don't escape: a seed is an identifier-like
    constant everywhere else in this family, and silently escaping here
    would let Spark and SQL disagree on the hash input)."""
    import re as _re

    from cassandra_util_spark.functions import portable_hash32_sql

    if not _re.fullmatch(r"[A-Za-z0-9_.:-]+", seed):
        raise ValueError(
            f"seed {seed!r} must match [A-Za-z0-9_.:-]+ (it is inlined "
            "into a SQL string literal and a hash input)"
        )
    terms = []
    for j in range(max_weight_bits):
        h = portable_hash32_sql(
            f"'{seed}:' || CAST({key_expr} AS VARCHAR) || ':b{j}'"
        )
        x = f"(1.0 - (CAST({h} AS DOUBLE) + 0.5) / 4294967296.0)"
        for _ in range(j):
            x = f"sqrt({x})"
        terms.append(
            f"CASE WHEN (({weight_expr}) >> {j}) & 1 = 1 "
            f"THEN 1.0 - {x} ELSE 9.0 END"
        )
    return "LEAST(" + ", ".join(terms) + ")"
