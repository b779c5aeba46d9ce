"""BPE trainer: the Spark fold / DuckDB parity-island merge vs a plain-Python
reference of greedy left-to-right non-overlapping merging (the equivalence the
operators/bpe.py and entry_queries.py docstrings claim), full-trainer replay,
early-break on exhausted corpora, the oracle's degenerate-corpus no-op
steps (an empty argmax must not annihilate the word table), and
the exact driver path against the reference and the distributed loop."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cassandra_util_spark.operators import bpe
from cassandra_util_spark.operators.bpe import (
    END,
    _driver_merges,
    bpe_token_profile,
    bpe_train,
    merge_pair_expr,
    word_frequency_table,
)


# ---------------------------------------------------------------------------
# Plain-Python reference (Sennrich et al. 2016, learn_bpe semantics)
# ---------------------------------------------------------------------------


def py_merge(syms: list, lhs: str, rhs: str) -> list:
    """Greedy left-to-right non-overlapping merge: append each symbol,
    merging it into the previous one when (prev, cur) == (lhs, rhs)."""
    out: list = []
    for t in syms:
        if out and out[-1] == lhs and t == rhs:
            out[-1] = lhs + rhs
        else:
            out.append(t)
    return out


def py_bpe_train(word_cnt: dict, num_merges: int):
    """Reference trainer over a word-frequency dict; argmax order is
    (count desc, lhs asc, rhs asc) — the same total order as bpe_train."""
    segs = {w: list(w) + [END] for w in word_cnt}
    merges = []
    for step in range(num_merges):
        pc: dict = {}
        for w, syms in segs.items():
            c = word_cnt[w]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + c
        if not pc:
            break
        (lhs, rhs), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((step, lhs, rhs, c))
        for w in segs:
            segs[w] = py_merge(segs[w], lhs, rhs)
    return merges, segs


# ---------------------------------------------------------------------------
# merge_pair_expr == py_merge, including same-symbol runs
# ---------------------------------------------------------------------------

MERGE_CASES = [
    # (syms, lhs, rhs) — same-symbol runs are the subtle case: greedy
    # non-overlapping means 'a a a' under (a,a) -> ['aa','a'], NOT ['aa','aa']
    (["a", "a", "a"], "a", "a"),
    (["a", "a", "a", "a"], "a", "a"),
    (["a", "a", "a", "a", "a"], "a", "a"),
    (["a", "b", "a", "b"], "a", "b"),
    (["b", "a", "b"], "a", "b"),
    (["a", "b", "b", "a"], "b", "b"),
    (["x"], "a", "b"),
    (["a", "b"], "a", "b"),
    (["a", "b", "a"], "b", "a"),
    # merged token equal to lhs would re-arm the pattern only via a NEW
    # occurrence — 'ab a b' under (a,b): first sym is literal 'ab' != 'a'
    (["ab", "a", "b"], "a", "b"),
    (["l", "o", "w", "e", "r", END], "e", "r"),
    (["n", "e", "w", "e", "s", "t", END], "e", "s"),
]


def test_merge_pair_expr_matches_python_reference(spark):
    rows = [(i, syms) for i, (syms, _, _) in enumerate(MERGE_CASES)]
    df = spark.createDataFrame(rows, "i int, syms array<string>")
    for i, (syms, lhs, rhs) in enumerate(MERGE_CASES):
        [got] = (
            df.filter(F.col("i") == i)
            .select(merge_pair_expr(F.col("syms"), lhs, rhs).alias("m"))
            .collect()
        )
        assert got["m"] == py_merge(syms, lhs, rhs), (syms, lhs, rhs)


def test_same_symbol_run_semantics_pinned():
    # the documented contract, independent of any engine
    assert py_merge(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert py_merge(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    assert py_merge(["a", "a", "a", "a", "a"], "a", "a") == ["aa", "aa", "a"]


# ---------------------------------------------------------------------------
# Full trainer replay
# ---------------------------------------------------------------------------

CORPUS = [
    (0, "low low low lower lowest"),
    (1, "new newer newest newest"),
    (2, "aaa aaa aa banana bananas"),
    (3, "low new aaa banana"),
]


def _py_word_cnt():
    cnt: dict = {}
    for _, text in CORPUS:
        for w in text.split():
            cnt[w] = cnt.get(w, 0) + 1
    return cnt


def test_bpe_train_matches_python_reference(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    merges, words = bpe_train(df, "text", num_merges=8)
    ref_merges, ref_segs = py_bpe_train(_py_word_cnt(), 8)
    assert merges == ref_merges
    got = {r["word"]: list(r["syms"]) for r in words.collect()}
    assert got == ref_segs


def test_bpe_train_early_break_and_profile_nonempty(spark):
    # two single-char words: every word is fully merged after 2 steps, so
    # requesting 10 merges must break early and keep the last word table
    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "b a")], "doc_id bigint, text string"
    )
    merges, words = bpe_train(df, "text", num_merges=10)
    ref_merges, ref_segs = py_bpe_train({"a": 3, "b": 3}, 10)
    assert merges == ref_merges
    assert len(merges) == 2  # (a,</w>) then (b,</w>) — then pairs run dry
    assert {r["word"]: list(r["syms"]) for r in words.collect()} == ref_segs
    prof = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_profile(df, "doc_id", "text", words).collect()
    }
    assert prof == {0: (4, 4), 1: (2, 2)}


def test_word_frequency_table_initial_segmentation(spark):
    df = spark.createDataFrame([(0, "ab ab c")], "doc_id bigint, text string")
    rows = {r["word"]: (r["cnt"], list(r["syms"]))
            for r in word_frequency_table(df, "text").collect()}
    assert rows == {"ab": (2, ["a", "b", END]), "c": (1, ["c", END])}


# ---------------------------------------------------------------------------
# Oracle parity on a DEGENERATE corpus (pairs run dry before num_merges):
# the DuckDB replay's guarded no-op steps must keep the word table alive,
# matching bpe_train's early break (ADVICE r7 fix).
# ---------------------------------------------------------------------------


def test_bpe_oracle_degenerate_corpus_matches_spark(spark):
    from cassandra_util_spark.entry_queries import _bpe_sql

    rows = [(0, "a b a b"), (1, "b a"), (2, "a a a")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    with tempfile.TemporaryDirectory(prefix="bpe-oracle-") as d:
        p = os.path.join(d, "documents.parquet")
        df.toPandas().to_parquet(p)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
        sql = _bpe_sql(
            10,
            """
            , dw AS (SELECT doc_id,
                unnest(list_filter(string_split(trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                  ' +', ' ', 'g')), ' '), x -> x <> '')) AS word
              FROM documents)
            SELECT d.doc_id, count(*) AS n_words,
                   CAST(sum(len(w.s)) AS BIGINT) AS n_bpe_tokens
            FROM dw d JOIN w10 w USING (word)
            GROUP BY d.doc_id
            """,
        )
        oracle = {
            int(r[0]): (int(r[1]), int(r[2]))
            for r in con.sql(sql).fetchall()
        }
    _, words = bpe_train(df, "text", num_merges=10)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_profile(df, "doc_id", "text", words).collect()
    }
    # before the g{i} guard, the oracle returned {} here (empty w10 cascade)
    assert oracle == got
    assert len(oracle) == 3


def test_bpe_train_rejects_zero_merges(spark):
    df = spark.createDataFrame([(0, "a")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="num_merges"):
        bpe_train(df, "text", num_merges=0)


# ---------------------------------------------------------------------------
# Batched training (symbol-disjoint rounds, merge_pairs_expr single pass)
# ---------------------------------------------------------------------------


def test_merge_pairs_expr_equals_sequential_application(spark):
    """One map-lookup fold over a disjoint pair set must equal applying the
    pairs one by one (py_merge), including same-symbol runs and multi-char
    symbols — the exactness claim batching rests on."""
    from cassandra_util_spark.operators.bpe import merge_pairs_expr

    cases = [
        (["a", "a", "a", "b", "c", "b"], [("a", "a"), ("b", "c")]),
        (["l", "o", "w", END], [("l", "o"), ("w", END)]),
        (["ab", "c", "x", "y", "ab", "c"], [("ab", "c"), ("x", "y")]),
        (["a", "a", "a", "a", "a"], [("a", "a")]),
        (["q"], [("a", "b")]),
        ([], [("a", "b")]),
    ]
    rows = [(i, syms) for i, (syms, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i int, syms array<string>")
    for i, (syms, pairs) in enumerate(cases):
        ref = list(syms)
        for l, r in pairs:
            ref = py_merge(ref, l, r)
        [got] = (
            df.filter(F.col("i") == i)
            .select(merge_pairs_expr(F.col("syms"), pairs).alias("m"))
            .collect()
        )
        assert got["m"] == ref, (syms, pairs)


def test_select_disjoint_blocks_symbol_and_merged_collisions():
    from cassandra_util_spark.operators.bpe import _select_disjoint

    rows = [
        {"lhs": "a", "rhs": "b", "c": 9},   # taken
        {"lhs": "b", "rhs": "c", "c": 8},   # shares b -> skipped
        {"lhs": "x", "rhs": "ab", "c": 7},  # rhs == merged('a','b') -> skipped
        {"lhs": "a", "rhs": "bc", "c": 7},  # merged 'abc'... shares a -> skipped
        {"lhs": "d", "rhs": "e", "c": 6},   # taken
        {"lhs": "de", "rhs": "f", "c": 5},  # lhs == merged('d','e') -> skipped
        {"lhs": "g", "rhs": "h", "c": 4},   # taken (hits m=3)
        {"lhs": "i", "rhs": "j", "c": 3},
    ]
    assert _select_disjoint(rows, 3) == [("a", "b", 9), ("d", "e", 6), ("g", "h", 4)]


def test_batched_trainer_replays_sequentially(spark):
    """The batched trainer's RETURNED merge list, replayed one pair at a
    time through the plain-Python reference, must land on exactly the same
    final segmentation Spark produced — within a round disjointness makes
    batch application equal sequential application, across rounds the loop
    is sequential anyway."""
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    merges, words = bpe_train(df, "text", num_merges=12, batch=4)
    segs = {w: list(w) + [END] for w in _py_word_cnt()}
    for _, lhs, rhs, _ in merges:
        for w in segs:
            segs[w] = py_merge(segs[w], lhs, rhs)
    got = {r["word"]: list(r["syms"]) for r in words.collect()}
    assert got == segs
    assert len(merges) == 12


def test_batch_one_is_the_certified_sequential_path(spark):
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    a, wa = bpe_train(df, "text", num_merges=6)
    b, wb = bpe_train(df, "text", num_merges=6, batch=1)
    assert a == b
    assert {r["word"]: list(r["syms"]) for r in wa.collect()} == {
        r["word"]: list(r["syms"]) for r in wb.collect()
    }


def test_batched_trainer_rejects_bad_batch(spark):
    df = spark.createDataFrame([(0, "a")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="batch"):
        bpe_train(df, "text", num_merges=1, batch=0)


def test_train_scoped_shuffle_restores_conf_and_result(spark, monkeypatch):
    """bpe_train's distributed loop scopes spark.sql.shuffle.partitions
    to the word table's own partition count; the session setting must be
    restored afterwards (even though the loop ran under a smaller one) and
    the learned merges must be identical to a run under the session
    default.  The driver bound is forced to 0 so the loop, not the exact
    driver path (which sets no conf), runs here."""
    monkeypatch.setattr(bpe, "DRIVER_WORDS_MAX", 0)
    rows = [("the cat sat on the mat the cat",), ("a cat and a mat and a hat",)]
    d = spark.createDataFrame(rows * 20, "text string")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    m1, w1 = bpe_train(d, "text", num_merges=4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # the width-1 fast path disables AQE for the loop only; the session
    # setting must come back (r17)
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        m2, w2 = bpe_train(d, "text", num_merges=4)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
        assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert m1 == m2
    # the final round's word table is a LAZY checkpoint (r17): it must
    # still materialize identically for consumers
    assert sorted(map(tuple, w1.select("word", "syms").collect())) == sorted(
        map(tuple, w2.select("word", "syms").collect())
    )


# ---------------------------------------------------------------------------
# Exact driver path (batch=1): one word-table collect, merges learned on the
# driver, final table replayed over the checkpointed word table
# ---------------------------------------------------------------------------


def _corpus_df(spark, word_cnt: dict):
    """One document per word occurrence, so the word table is ``word_cnt``."""
    rows = [(w,) for w, c in word_cnt.items() for _ in range(c)]
    return spark.createDataFrame(rows, "text string")


def _table(words) -> dict:
    return {r["word"]: (r["cnt"], list(r["syms"])) for r in words.collect()}


# few letters and small counts force count ties and same-symbol runs;
# merge budgets past the corpus' symbol count force early exhaustion
_word_cnts = st.dictionaries(
    st.text(alphabet="abc", min_size=1, max_size=6),
    st.integers(min_value=1, max_value=3),
    min_size=1,
    max_size=8,
)


@settings(max_examples=300, deadline=None)
@given(word_cnt=_word_cnts, num_merges=st.integers(min_value=1, max_value=40))
def test_driver_merges_match_python_reference(word_cnt, num_merges):
    ref_merges, _ = py_bpe_train(word_cnt, num_merges)
    assert _driver_merges(list(word_cnt.items()), num_merges) == ref_merges


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(word_cnt=_word_cnts, num_merges=st.integers(min_value=1, max_value=40))
def test_exact_path_matches_python_reference(spark, word_cnt, num_merges):
    """Merges AND the replayed final segmentation equal the reference."""
    merges, words = bpe_train(_corpus_df(spark, word_cnt), "text", num_merges)
    ref_merges, ref_segs = py_bpe_train(word_cnt, num_merges)
    assert merges == ref_merges
    assert {w: syms for w, (_, syms) in _table(words).items()} == ref_segs


def test_driver_heap_repushes_pairs_a_merge_lowered(spark):
    """(a,a) wins first and rewrites aasx/aab/aac; that lowers (a,s) from 9
    to 5, and (a,s) is still the next argmax (tied at 5 with (s,y) and
    (y,</w>), first in pair order) although no rewritten word contains it
    any more.  A heap that re-pushes only the rewritten words' pairs keeps
    (a,s)'s stale 9, discards it, and merges (s,y) second."""
    word_cnt = {"aasx": 4, "asy": 5, "aab": 3, "aac": 3}
    expect = [(0, "a", "a", 10), (1, "a", "s", 5)]
    ref_merges, ref_segs = py_bpe_train(word_cnt, 2)
    assert ref_merges == expect
    rewritten = [py_merge(list(w) + [END], "a", "a") for w in word_cnt if "aa" in w]
    assert all(("a", "s") not in zip(syms, syms[1:]) for syms in rewritten)
    assert _driver_merges(list(word_cnt.items()), 2) == expect
    merges, words = bpe_train(_corpus_df(spark, word_cnt), "text", 2)
    assert merges == expect
    assert {w: syms for w, (_, syms) in _table(words).items()} == ref_segs


def test_distributed_fallback_equals_driver_path(spark, monkeypatch):
    """Over the driver bound the distributed loop runs; it must learn the
    same merges and return the same (word, cnt, syms) table."""
    df = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    merges, words = bpe_train(df, "text", num_merges=12)
    monkeypatch.setattr(bpe, "DRIVER_WORDS_MAX", 0)
    fb_merges, fb_words = bpe_train(df, "text", num_merges=12)
    assert fb_merges == merges
    assert _table(fb_words) == _table(words)


def test_exact_path_job_count_is_constant_in_num_merges(spark, count_jobs):
    df = spark.createDataFrame(
        CORPUS + [(4, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    (_, _), jobs_2 = count_jobs(
        "bpe-train-2", lambda: bpe_train(df, "text", num_merges=2)
    )
    (merges, _), jobs_30 = count_jobs(
        "bpe-train-30", lambda: bpe_train(df, "text", num_merges=30)
    )
    assert len(merges) == 30  # the corpus does not run dry before 30 merges
    assert jobs_2 == jobs_30 <= 3
