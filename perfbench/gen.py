"""Seeded input generators, one per workload.  Same seed, same inputs.

Everything is plain Python data; the workloads stage it as parquet files
in set-up, so the library only ever sees the generated files.
"""

from __future__ import annotations

import itertools
import random
import string

# Gopher's eight stopwords plus common English glue words.
STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
    "a", "in", "is", "it", "for", "on", "as", "was", "by", "at", "from",
)

VOCAB_SIZE = 3000
EXACT_DUP_FRAC = 0.04
NEAR_DUP_FRAC = 0.08
# sf0.1 ``documents`` texts run 10-100 words (median 54), 22% under 30
SHORT_FRAC = 0.2
SHARD_STRIDE = 1_000_000
CLUSTERING_KEYS = 4

# writetime origin for the keyed table (microseconds since the epoch)
T0_US = 1_700_000_000_000_000
HOUR_US = 3_600_000_000


def _words(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choices(string.ascii_lowercase, k=rng.randint(4, 9))))
    return sorted(out)


def _text(rng: random.Random, vocab: list[str], cum: list[float], n_words: int) -> str:
    toks = []
    for _ in range(n_words):
        if rng.random() < 0.35:
            toks.append(rng.choice(STOPWORDS))
        else:
            toks.append(rng.choices(vocab, cum_weights=cum)[0])
    return " ".join(toks)


def _perturb(rng: random.Random, text: str, vocab: list[str], frac: float) -> str:
    toks = text.split(" ")
    for i in range(len(toks)):
        if rng.random() < frac:
            toks[i] = rng.choice(vocab)
    return " ".join(toks)


def documents(
    seed: int,
    n_docs: int,
    id_base: int = 0,
    history: list[str] | None = None,
    vocab_seed: int | None = None,
) -> list[tuple[int, str]]:
    """``n_docs`` (doc_id, text) rows with ascending ids from ``id_base``.

    Texts draw Zipf-weighted content words from a vocabulary seeded by
    ``vocab_seed`` (default ``seed``) plus stopwords.  A share of documents
    are near-duplicates (about 5% of words replaced) or exact copies of an
    earlier text — from this call or from ``history`` — so dedup and
    admission have real work; a share are too short for the quality
    gates.  Lengths follow sf0.1 ``documents``."""
    rng = random.Random(seed)
    vocab = _words(random.Random((seed if vocab_seed is None else vocab_seed) ^ 0x5EED), VOCAB_SIZE)
    cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(VOCAB_SIZE)))
    earlier = list(history or [])
    out = []
    for i in range(n_docs):
        u = rng.random()
        if earlier and u < EXACT_DUP_FRAC:
            text = rng.choice(earlier)
        elif earlier and u < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            text = _perturb(rng, rng.choice(earlier), vocab, 0.05)
        elif u < EXACT_DUP_FRAC + NEAR_DUP_FRAC + SHORT_FRAC:
            text = _text(rng, vocab, cum, rng.randint(8, 29))
        else:
            text = _text(rng, vocab, cum, rng.randint(30, 100))
        earlier.append(text)
        out.append((id_base + i, text))
    return out


def shards(seed: int, k: int, per_shard: int) -> list[list[tuple[int, str]]]:
    """``k`` document shards over one vocabulary, with strictly ascending
    id ranges (shard i holds ids from i * SHARD_STRIDE); later shards
    re-crawl earlier texts."""
    history: list[str] = []
    out = []
    for i in range(k):
        docs = documents(seed * 1009 + i, per_shard, id_base=i * SHARD_STRIDE,
                         history=history, vocab_seed=seed)
        history.extend(t for _, t in docs)
        out.append(docs)
    return out


def updates(
    seed: int, n_keys: int, n_batches: int, rows_per_batch: int
) -> list[list[tuple[int, int, int, str, int]]]:
    """Overlapping update batches of (key, ck, val, tag, writetime).

    Each batch updates ``rows_per_batch`` distinct (key, ck) cells, with
    CLUSTERING_KEYS ck values per key; batch b
    writes at T0 + b hours plus a per-row jitter below one hour, so every
    version of a cell has a distinct writetime and last-write-wins is
    unambiguous.  A third of each batch goes to the hottest tenth of the
    keys, so those cells carry many versions."""
    rng = random.Random(seed)
    cells = n_keys * CLUSTERING_KEYS
    hot = max(1, cells // 10)
    out = []
    for b in range(n_batches):
        n_hot = min(hot, rows_per_batch // 3)
        chosen = set(rng.sample(range(hot), n_hot))
        while len(chosen) < rows_per_batch:
            chosen.add(rng.randrange(cells))
        rows = []
        for cell in sorted(chosen):
            key, ck = divmod(cell, CLUSTERING_KEYS)
            rows.append(
                (
                    key,
                    ck,
                    rng.randrange(1_000_000),
                    "".join(rng.choices(string.ascii_lowercase, k=12)),
                    T0_US + b * HOUR_US + rng.randrange(HOUR_US),
                )
            )
        out.append(rows)
    return out


def lookups(seed: int, n: int, n_keys: int, width: int) -> list[tuple[int, int]]:
    """``n`` inclusive key ranges [lo, lo + width - 1] for bounded reads."""
    rng = random.Random(seed ^ 0x10C)
    return [
        (lo, lo + width - 1)
        for lo in (rng.randrange(n_keys - width + 1) for _ in range(n))
    ]
