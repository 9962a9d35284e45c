"""Correctness gate: the package's DuckDB BM25 oracle over the same
documents the program indexed.

Results compare on (rank, doc_id, score rounded to 4 decimals) and the
exact match count; any difference is a wrong op.
"""

from __future__ import annotations

import hashlib
import json

import duckdb
import pandas as pd


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()

    def load(self, doc_ids, texts) -> None:
        """(Re)define the ``documents`` view the oracle SQL reads."""
        frame = pd.DataFrame({"doc_id": list(doc_ids), "text": list(texts)})
        self.con.register("oracle_docs", frame)
        self.con.execute(
            "CREATE OR REPLACE VIEW documents AS "
            "SELECT doc_id::BIGINT AS doc_id, text FROM oracle_docs"
        )

    def topk(self, query: str, k: int, mode: str) -> list[tuple[int, float]]:
        from pyf_aggregator_spark.oracle.sql import bm25_topk_sql

        rows = self.con.execute(bm25_topk_sql(query, k, mode)).fetchall()
        return [(int(d), round(float(s), 4)) for d, s in rows]

    def found(self, query: str, mode: str) -> int:
        """Exact size of the match set (any term for or, all for and)."""
        from pyf_aggregator_spark.functions.tokenize import tokenize_py
        from pyf_aggregator_spark.oracle.sql import SEP_RE_SQL

        terms = sorted(set(tokenize_py(query)))
        if not terms:
            return 0
        need = len(terms) if mode == "and" else 1
        sql = f"""
            SELECT count(*) FROM (
              SELECT doc_id FROM (
                SELECT DISTINCT doc_id, t FROM (
                  SELECT doc_id,
                         unnest(string_split_regex(lower(text), '{SEP_RE_SQL}')) AS t
                  FROM documents)
                WHERE t IN ({", ".join(f"'{t}'" for t in terms)}))
              GROUP BY doc_id HAVING count(*) >= {need})"""
        return int(self.con.execute(sql).fetchone()[0])


def hits_of(rows) -> list[tuple[int, float]]:
    """Engine top-k rows ({doc_id, score} dicts or Rows) → comparable
    (doc_id, 4-dp score) list in rank order."""
    return [(int(r["doc_id"]), round(float(r["score"]), 4)) for r in rows]


def digest(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, separators=(",", ":"), default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]
