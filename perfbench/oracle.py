"""Correctness checks, run outside the timed interval.

Ranked results are checked against DuckDB with the program's own oracle
SQL (`search_engines_spark.entry_queries`): the tokenizing prelude, the
BM25 scoring CTE and the greedy #near/#window zipper CTEs. Scores on
both sides are compared as integers, floor(score * 1e6 + 0.5), and a
query's top-k is compared as a set of (score, ext_id) pairs, as the
registry's driver comparison does.

The oracle's prelude numbers documents by `doc_id` and names them
'doc' || lpad(doc_id, 9, '0'); the generator writes the corpus in doc_id
order, so position `i` of the corpus maps the oracle's name back to the
program's `ext_id`.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pyarrow as pa

from search_engines_spark.entry_queries import (B, K1, PRELUDE,
                                                _bm25_scored_cte,
                                                _zipper_ctes)

_BM = (f"greatest(0.0, ln((c.n - {{df}} + 0.5) / ({{df}} + 0.5)))"
       f" * ({{tf}} / ({{tf}} + {K1} * (1 - {B} + {B} * d.doclen"
       f" / (c.sumlen / c.ndocs_f))))")
_TABLES = ("dl", "emit", "post", "stats", "corpus")


def ext_id(row: dict) -> str:
    """The program's external id of a code-corpus row."""
    return f"{row['repo']}:{row['path']}@{row['commit'][:8]}"


class Oracle:
    """DuckDB replay of one corpus (rows in doc_id order)."""

    def __init__(self, rows: list[dict], threads: int = 4):
        self.ext = [ext_id(r) for r in rows]
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        docs = pa.table({"doc_id": pa.array(range(len(rows)), pa.int64()),
                         "text": [r["content"] for r in rows]})
        self.con.register("documents", docs)
        for t in _TABLES:
            self.con.execute(f"CREATE TABLE {t} AS {PRELUDE} "
                             f"SELECT * FROM {t}")
        self.con.unregister("documents")

    def _topk(self, scored_ctes: str, k: int) -> set[tuple[int, str]]:
        rows = self.con.execute(f"""WITH RECURSIVE {scored_ctes}
SELECT d.doc_id, floor(scored.score * 1e6 + 0.5)::BIGINT AS score_r
FROM scored JOIN dl d USING (doc_id)
ORDER BY score_r DESC, d.ext_id LIMIT {k}""").fetchall()
        return {(int(s), self.ext[int(d)]) for d, s in rows}

    def bm25(self, terms: list[str], k: int = 100) -> set[tuple[int, str]]:
        return self._topk(_bm25_scored_cte(terms, "scored"), k)

    def sdm(self, terms: tuple[str, str, str],
            k: int = 100) -> set[tuple[int, str]]:
        """The generator's SDM shape: every term, plus #near/1 and
        #window/8 over each adjacent pair, under one BM25 #sum; each
        proximity arm is scored with its derived df."""
        c, m, r = terms
        arms = [("near", c, m, 1), ("near", m, r, 1),
                ("window", c, m, 8), ("window", m, r, 8)]
        ctes = [_zipper_ctes(kind, a, b, n, f"a{i}")
                for i, (kind, a, b, n) in enumerate(arms)]
        parts = [f"""SELECT p.doc_id, {_BM.format(df='s.df', tf='p.tf')} AS sc
  FROM post p JOIN stats s USING (term) JOIN dl d USING (doc_id)
       CROSS JOIN corpus c
  WHERE p.term IN ('{c}', '{m}', '{r}')"""]
        for i in range(len(arms)):
            ctes.append(f"a{i}_stats AS (SELECT count(*)::DOUBLE AS df "
                        f"FROM a{i})")
            parts.append(f"""SELECT a.doc_id, {_BM.format(df='s.df', tf='a.tf')} AS sc
  FROM a{i} a CROSS JOIN a{i}_stats s JOIN dl d USING (doc_id)
       CROSS JOIN corpus c""")
        union = "\n  UNION ALL\n  ".join(parts)
        ctes.append(f"contrib AS (\n  {union})")
        ctes.append("scored AS (SELECT doc_id, sum(sc) AS score "
                    "FROM contrib GROUP BY doc_id)")
        return self._topk(",\n".join(ctes), k)

    def close(self) -> None:
        self.con.close()


def read_trec(path: str) -> dict[str, set[tuple[int, str]]]:
    """A trec run file as {qid: {(score_r, ext_id)}}; the placeholder
    line of a query without results contributes nothing."""
    out: dict[str, set[tuple[int, str]]] = {}
    with open(path) as f:
        for line in f:
            qid, _, ext, _, score, _ = line.split()
            out.setdefault(qid, set())
            if ext != "dummy":
                out[qid].add((_round(float(score)), ext))
    return out


def _round(score: float) -> int:
    return math.floor(score * 1e6 + 0.5)


def sha_mismatches(rows: list[dict], indexed: dict[str, str]) -> int:
    """Rows whose content sha256 differs from the index's attribute
    store (`indexed`: ext_id -> sha256), plus rows missing from it and
    index entries with no source row."""
    bad = sum(1 for r in rows
              if indexed.get(ext_id(r))
              != hashlib.sha256(r["content"].encode()).hexdigest())
    return bad + max(0, len(indexed) - len(rows))
