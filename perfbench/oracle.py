"""Untimed correctness checks: DuckDB restatements of the facade verbs and
the comparators that judge a result against them.

The SQL is the repository's own oracle SQL (``queries.py``: the BM25 CTEs
``_BM25_PREFIX``/``_BM25_SCORING``, the hash-embedding CTE ``_EMBED_SQL``
and the alpha-fusion builder over them), run on a DuckDB table named
``documents`` holding exactly the rows the collection was built from. Every
check is a change detector: ``perfbench/tests/test_perfbench.py`` feeds
each one a deliberately corrupted result and asserts that it fails.
"""

from __future__ import annotations

import re

import duckdb

# Score tolerance. Spark and DuckDB sum the same doubles in different orders;
# 1e-9 is far above that drift and far below any real score difference.
TOL = 1e-9
# Completion stub and prompt template of the facade's rag_answer defaults
# (operators/llm.py, operators/prompts.py).
STUB_MODEL = "gpt-4o-mini"


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def tokenize(text: str) -> list[str]:
    """functions/text.tokenize: lower, split on \\W+, drop empties (ASCII
    text, so Python's and Java's \\W agree)."""
    return [t for t in re.split(r"\W+", text.lower()) if t]


class Oracle:
    """DuckDB over the live document rows of one collection."""

    def __init__(self, docs: list[tuple[int, str]]) -> None:
        from vectorsearch_applications_spark import queries as Q

        self.Q = Q
        self.text = dict(docs)
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        self.con.executemany("INSERT INTO documents VALUES (?, ?)", docs)

    def _sql(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def keyword(self, query: str, limit: int) -> list[tuple[int, float]]:
        """Indexed BM25 ranking: round(score, 4) desc, doc_id asc."""
        Q = self.Q
        return self._sql(f"""
WITH {Q._BM25_PREFIX},
queries AS (SELECT 0::BIGINT AS query_id, {_q(query)} AS query),
{Q._BM25_SCORING}
SELECT doc_id, score FROM kw_scored
ORDER BY round(score, 4) DESC, doc_id ASC LIMIT {limit}""")

    def distances(self, query: str) -> dict[int, float]:
        """Exact cosine distance of every document to the hash-embedded
        query (the facade's dense arm when the collection has no vector
        column)."""
        Q = self.Q
        rows = self._sql(f"""
WITH queries AS (SELECT 0::BIGINT AS query_id, {_q(query)} AS query),
{Q._HYBRID_DENSE_HASHED}
SELECT doc_id, 1.0 - sim FROM vec_ranked""")
        return {d: dist for d, dist in rows}

    def hybrid(self, query: str, alpha: float, limit: int) -> list[tuple[int, float]]:
        Q = self.Q
        sql = Q._hybrid_fusion_oracle(
            f"(0::BIGINT, {_q(query)})", Q._HYBRID_DENSE_HASHED,
            "doc_id, score, rnk", n_arm=limit, k_final=limit, alpha=alpha,
        )
        return [(d, s) for d, s, _ in sorted(self._sql(sql), key=lambda r: r[2])]

    def _jaccard_top(self, query: str, ids, top_k: int):
        qt = set(tokenize(query))
        scored = []
        for d in ids:
            dt = set(tokenize(self.text[d]))
            union = qt | dt
            scored.append((d, len(qt & dt) / len(union) if union else 0.0))
        scored.sort(key=lambda kv: (-kv[1], kv[0]))
        return scored[:top_k]

    def rerank(self, query: str, limit: int, top_k: int) -> list[tuple[int, float]]:
        """rerank_search with the keyword first stage: BM25 top ``limit``,
        then the Jaccard cross-scorer to ``top_k``."""
        return self._jaccard_top(
            query, [d for d, _ in self.keyword(query, limit)], top_k)

    def rag(self, query: str, alpha: float, limit: int, rerank_topk: int,
            token_threshold: int) -> tuple[int, str, str]:
        """rag_answer: hybrid top ``limit`` → rerank to ``rerank_topk`` →
        rank-ordered prefix within ``token_threshold`` tokens (first hit
        always kept) → prompt → stub completion."""
        top = self._jaccard_top(
            query, [d for d, _ in self.hybrid(query, alpha, limit)], rerank_topk)
        kept, used = [], 0
        for i, (d, _) in enumerate(top):
            used += len(tokenize(self.text[d]))
            if used <= token_threshold or i == 0:
                kept.append(d)
        prompt = (f"Question: {query} Context: "
                  + " | ".join(self.text[d] for d in kept))
        return len(kept), prompt, f"[{STUB_MODEL}] {prompt}"


# -- comparators ------------------------------------------------------------


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 tol: float = TOL) -> bool:
    """Ranked (id, score) lists agree: same length, scores equal position by
    position within ``tol``, and the same ids within every group of tied
    scores. The last tie group may be cut differently at the limit, so only
    its scores are compared."""
    if len(got) != len(want) or len({i for i, _ in got}) != len(got):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    i, n = 0, len(want)
    while i < n:
        j = i
        while j + 1 < n and abs(want[j + 1][1] - want[i][1]) <= tol:
            j += 1
        if j < n - 1 and {x[0] for x in got[i:j + 1]} != {x[0] for x in want[i:j + 1]}:
            return False
        i = j + 1
    return True


def ann_consistent(got: list[tuple[int, float]], exact: dict[int, float],
                   limit: int, tol: float = TOL) -> bool:
    """An approximate (IVF) result: ``limit`` distinct live ids, each with
    its exact distance, in ascending distance order."""
    if len(got) != limit or len({i for i, _ in got}) != limit:
        return False
    if any(i not in exact or abs(d - exact[i]) > tol for i, d in got):
        return False
    return all(got[k][1] <= got[k + 1][1] + tol for k in range(limit - 1))


def fused_consistent(got: list[tuple[int, float]], live: set[int],
                     limit: int) -> bool:
    """A hybrid result whose dense arm is approximate: ``limit`` distinct
    live ids, fused scores in [0, 1] and non-increasing."""
    if len(got) != limit or len({i for i, _ in got}) != limit:
        return False
    if any(i not in live or not -TOL <= s <= 1 + TOL for i, s in got):
        return False
    return all(got[k][1] + TOL >= got[k + 1][1] for k in range(limit - 1))


def planted_first(rows, planted: int) -> bool:
    """The doc carrying a batch's planted token is the top keyword hit."""
    return bool(rows) and min(rows, key=lambda r: r["rank"])["doc_id"] == planted


def none_deleted(rows, deleted: set[int]) -> bool:
    """No tombstoned id is served."""
    return not ({r["doc_id"] for r in rows} & deleted)
