"""Result checks, all run outside the timed region.

* DuckDB oracle: ``contract.sql_bm25`` over the benchmark's own copy of
  the corpus, compared the way ``tools/check_contract.py`` compares a
  contract pair (scores rounded to 4 decimals by both sides, then rows
  canonicalised: floats rounded to 6, stringified, sorted).
* Path identity: two engine paths must rank the same doc ids.
* A self-test proves the oracle comparison rejects a perturbed result.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from search_engine_spark.contract import sql_bm25
from search_engine_spark.tokenizer import tokenize_query


def canon(rows) -> list[tuple[str, str]]:
    """check_contract.canon for (doc_id, score) rows."""
    return sorted((str(int(d)), str(round(float(s), 6))) for d, s in rows)


def same_topk(engine_rows, oracle_rows) -> bool:
    """``engine_rows``: (doc_id, score) from the engine; ``oracle_rows``:
    the oracle's (doc_id, round(score, 4))."""
    return canon((d, round(float(s), 4)) for d, s in engine_rows) == canon(
        oracle_rows
    )


def same_ranking(a_ids, b_ids) -> bool:
    return [int(x) for x in a_ids] == [int(x) for x in b_ids]


class Oracle:
    """DuckDB over a ``documents`` table (doc_id, text)."""

    def __init__(self, documents: pd.DataFrame | str):
        self.con = duckdb.connect()
        if isinstance(documents, str):
            self.con.sql(
                f"CREATE VIEW documents AS SELECT * FROM '{documents}'"
            )
        else:
            self.con.register("documents_df", documents)
            self.con.sql("CREATE VIEW documents AS SELECT * FROM documents_df")

    def topk(self, query: str, conjunctive: bool) -> list[tuple[int, float]]:
        terms = tuple(tokenize_query(query))
        return [
            (int(d), float(s))
            for d, s in self.con.sql(sql_bm25("duckdb", terms, conjunctive))
            .fetchall()
        ]

    def close(self) -> None:
        self.con.close()


def self_test(oracle_rows) -> bool:
    """The comparison accepts the oracle's own rows and rejects them
    perturbed: one score moved by 1e-3, or (for an empty result) one
    extra row."""
    rows = list(oracle_rows)
    if rows:
        bad = [(rows[0][0], rows[0][1] + 1e-3)] + rows[1:]
    else:
        bad = [(0, 1.0)]
    return same_topk(rows, rows) and not same_topk(bad, rows)
