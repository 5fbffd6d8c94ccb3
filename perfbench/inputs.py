"""Seeded input generator for the benchmark workloads.

Everything here is pure Python/NumPy and depends only on the seed, so the
same ``--seed`` always yields byte-identical inputs. The library under test
never sees the seed; it only receives the rows built here.

Text model. The repository's own sample corpus draws from a 40-word
vocabulary, so every query term hits almost every document and posting lists
are corpus-sized: a degenerate shape where nothing about BM25 selectivity or
index pruning shows. The corpus here draws tokens from a Zipf law over a
vocabulary of pseudo-words instead, which gives the long-tail posting-length
distribution of real text: a few very common words, many rare ones.
"""

from __future__ import annotations

import numpy as np

# Vocabulary size and Zipf exponent of the token distribution. 4,000 types
# at s=1.1 give ~70% of token mass to the top 100 words, while over half the
# types occur fewer than five times in a 2,000-doc corpus: a long tail of
# short posting lists, like English prose.
VOCAB_SIZE = 4000
ZIPF_S = 1.1
# Document lengths in tokens (uniform). A 3-doc rag_answer context stays
# inside the app loop's 2,500-token budget, so the budget step runs on
# every turn without truncating, as in the reference app.
DOC_LEN = (20, 80)
# Tokens per golden query / user query (uniform, inclusive).
QUERY_LEN = (3, 5)

_ONSETS = ["b", "br", "c", "d", "f", "g", "gr", "k", "l", "m", "n", "p",
           "pr", "r", "s", "st", "t", "tr", "v", "z"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODAS = ["", "n", "r", "s", "l", "x", "nd", "st"]


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """Deterministic pseudo-words (independent of the seed, so the vocabulary
    is the same language on every run; the seed picks the text)."""
    words: list[str] = []
    seen: set[str] = set()
    i = 0
    while len(words) < size:
        # mixed-radix enumeration of onset/vowel/coda syllables
        n, parts = i, []
        for _ in range(1 + i // 1120):
            o, n = _ONSETS[n % len(_ONSETS)], n // len(_ONSETS)
            v, n = _VOWELS[n % len(_VOWELS)], n // len(_VOWELS)
            c, n = _CODAS[n % len(_CODAS)], n // len(_CODAS)
            parts.append(o + v + c)
        w = "".join(parts)
        if w not in seen:
            seen.add(w)
            words.append(w)
        i += 1
    return words


def _zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def make_docs(
    rng: np.random.Generator,
    n_docs: int,
    first_id: int = 0,
    vocab: list[str] | None = None,
) -> list[tuple[int, str]]:
    """``n_docs`` (doc_id, text) rows with Zipf-distributed tokens. The rank
    to word map is fixed, so the seed changes which words a document holds
    but not the corpus statistics (word lengths, posting-length law)."""
    vocab = vocab or vocabulary()
    p = _zipf_weights(len(vocab))
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, size=n_docs)
    toks = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    out, at = [], 0
    for i, n in enumerate(lens):
        words = [vocab[t] for t in toks[at:at + n]]
        at += n
        out.append((first_id + i, " ".join(words)))
    return out


def golden_queries(
    rng: np.random.Generator,
    docs: list[tuple[int, str]],
    n_queries: int,
) -> list[tuple[int, str, int]]:
    """(query_id, query, relevant_doc_id): a contiguous run of 3 to 5 tokens
    of a seeded document, the reference's "question written from one chunk"
    golden set. Distinct documents, so every query has exactly one answer."""
    pick = rng.choice(len(docs), size=n_queries, replace=False)
    out = []
    for qid, i in enumerate(pick):
        doc_id, text = docs[int(i)]
        words = text.split(" ")
        n = int(rng.integers(QUERY_LEN[0], QUERY_LEN[1] + 1))
        start = int(rng.integers(0, max(1, len(words) - n + 1)))
        out.append((qid, " ".join(words[start:start + n]), doc_id))
    return out


def zipf_stream(
    rng: np.random.Generator,
    pool: list[str],
    n: int,
    s: float = 1.0,
) -> list[str]:
    """``n`` request strings drawn by Zipf rank from ``pool``: a few queries
    repeat often, most are rare, as in a real query log."""
    idx = rng.choice(len(pool), size=n, p=_zipf_weights(len(pool), s))
    return [pool[int(i)] for i in idx]


def planted_token(seed: int, cycle: int) -> str:
    """A token that occurs in no generated text: the vocabulary is made of
    letters only, so any token carrying digits is out of vocabulary."""
    return f"planted{seed}x{cycle}"


def ingest_batch(
    rng: np.random.Generator,
    first_id: int,
    size: int,
    token: str,
    vocab: list[str],
) -> tuple[list[tuple[int, str]], int]:
    """One ingest micro-batch of ``size`` docs; one seeded doc carries
    ``token`` three times so it ranks first for a query of that token alone.
    Returns (rows, planted doc id)."""
    rows = make_docs(rng, size, first_id, vocab)
    k = int(rng.integers(0, size))
    doc_id, text = rows[k]
    rows[k] = (doc_id, f"{token} {text} {token} {token}")
    return rows, doc_id
