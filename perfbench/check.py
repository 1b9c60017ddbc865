"""Result checks, run outside every timed region.

``Reference`` is an independent BM25 top-k over the workload's input in
DuckDB. It follows the README contract: k1 1.2, b 0.75, Lucene idf
ln(1 + (N - df + 0.5) / (df + 0.5)), exact token counts as document
lengths, ties broken by score descending then doc_id ascending. Tokens come
from ``analysis.duckdb_tokens_sql``. It answers every shape of the query
log: OR and AND of terms, two-term phrases (adjacent tokens; both terms
score), ``a AND NOT b`` (only ``a`` scores) and prefix, fuzzy and wildcard
queries, which rewrite to an OR over the dictionary terms they match
(Lucene's scoring boolean rewrite: prefix and wildcard take the first 128
terms in term order, fuzzy the 50 closest, ties by term).

Incremental merges keep the postings of replaced and deleted docs until a
compaction (as Lucene keeps deleted docs until a segment merge), so after a
commit ``df`` counts every indexed version of a doc while N, avgdl and the
ranked docs are the live ones. The reference keeps the whole ingest history
for that reason.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

from lucille_spark import BM25_B, BM25_K1
from lucille_spark.analysis import duckdb_tokens_sql

REL_TOL = 1e-9
# reference rows fetched past k, so a tie group cut by k is seen whole
TIE_DEPTH = 64
MAX_EXPANSIONS = 128    # parser.expand_prefixes
FUZZY_TERMS = 50        # IndexReader.terms_fuzzy


def close(a: float, b: float, rel: float = REL_TOL) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)


def same_topk(got, want, k: int, rel: float = REL_TOL) -> bool:
    """Rank identity of ``got`` (engine top-k) with ``want`` (reference,
    fetched ``TIE_DEPTH`` rows past k), both [(doc_id, score)].

    Scores must agree position by position within ``rel``. Doc ids must be
    identical, except that docs whose scores tie may come in either order:
    an ordinal assigned by a later merge sorts after the base docs, so the
    engine breaks a tie between an old and a new doc by commit order. A tie
    group cut by k only has to be a subset of the reference's whole group."""
    head = want[:k]
    if len(got) != len(head):
        return False
    if not all(close(g[1], w[1], rel) for g, w in zip(got, head)):
        return False
    i = 0
    while i < len(head):
        j = i
        while j + 1 < len(head) and close(head[j + 1][1], head[i][1], rel):
            j += 1
        got_ids = {d for d, _ in got[i:j + 1]}
        if j + 1 < len(head) or len(want) == len(head):
            ok = got_ids == {d for d, _ in head[i:j + 1]}
        else:  # boundary group: compare with every reference tie
            ok = got_ids <= {d for d, s in want[i:] if close(s, head[i][1], rel)}
        if not ok:
            return False
        i = j + 1
    return True


class Reference:
    """DuckDB BM25 over an ingest history.

    ``add(rows)`` indexes docs (an existing doc_id is replaced: its old row
    stays for ``df`` but is no longer live); ``delete(ids)`` drops docs
    from the live set."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE post (doc_id VARCHAR, gen INTEGER, term VARCHAR, "
            "tf BIGINT, dl BIGINT)")
        self.con.execute("CREATE TABLE docs (doc_id VARCHAR, gen INTEGER, "
                         "dl BIGINT, live BOOLEAN)")
        # adjacent token pairs, for phrases
        self.con.execute("CREATE TABLE pairs (doc_id VARCHAR, gen INTEGER, "
                         "a VARCHAR, b VARCHAR)")
        self.gen = 0

    def add(self, rows: pd.DataFrame) -> None:
        """``rows``: doc_id and content columns."""
        self.gen += 1
        frame = rows[["doc_id", "content"]]  # noqa: F841 (DuckDB scan)
        self.con.execute("UPDATE docs SET live = false WHERE doc_id IN "
                         "(SELECT doc_id FROM frame)")
        toks = duckdb_tokens_sql("content")
        self.con.execute(f"""
            CREATE OR REPLACE TEMP TABLE fresh AS
            SELECT doc_id, {toks} AS toks FROM frame""")
        self.con.execute(f"""
            INSERT INTO docs SELECT doc_id, {self.gen}, len(toks), true
            FROM fresh""")
        self.con.execute(f"""
            INSERT INTO post
            SELECT doc_id, {self.gen}, term, count(*), any_value(dl)
            FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                  FROM fresh)
            GROUP BY doc_id, term""")
        self.con.execute(f"""
            INSERT INTO pairs
            SELECT DISTINCT doc_id, {self.gen}, a, b FROM (
                SELECT doc_id, unnest(toks) AS a,
                       unnest(list_slice(toks, 2, len(toks))) AS b
                FROM fresh)
            WHERE b IS NOT NULL""")

    def delete(self, ids) -> None:
        gone = pd.DataFrame({"doc_id": list(ids)})  # noqa: F841
        self.con.execute("UPDATE docs SET live = false WHERE doc_id IN "
                         "(SELECT doc_id FROM gone)")

    def topk(self, terms, k: int, conjunctive: bool = False,
             exclude=(), phrase: bool = False):
        """[(doc_id, score)] for ``terms`` OR-ed (AND-ed when
        ``conjunctive``; adjacent in this order when ``phrase``, two terms),
        leaving out docs whose live version holds a term of ``exclude``;
        ``k`` + TIE_DEPTH rows, score descending then doc_id ascending."""
        if not terms:
            return []
        q = pd.DataFrame({"term": list(terms),  # noqa: F841
                          "pos": range(len(terms))})
        x = pd.DataFrame({"term": list(exclude)},  # noqa: F841
                         dtype="object")
        need = len(terms) if conjunctive or phrase else 1
        where = ""
        if phrase:
            assert len(terms) == 2
            where = ("AND EXISTS (SELECT 1 FROM pairs r WHERE r.doc_id = "
                     "p.doc_id AND r.gen = p.gen AND r.a = ? AND r.b = ?)")
        rows = self.con.execute(f"""
            WITH stats AS (
                SELECT count(*) AS n, sum(dl) / count(*) AS avgdl
                FROM docs WHERE live),
            dfs AS (
                SELECT term, count(*) AS df FROM post
                WHERE term IN (SELECT term FROM q) GROUP BY term),
            gone AS (
                SELECT p.doc_id FROM post p JOIN docs USING (doc_id, gen)
                WHERE docs.live AND p.term IN (SELECT term FROM x)),
            contrib AS (
                SELECT p.doc_id, q.pos,
                       ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                       * (p.tf / (p.tf + {BM25_K1} * (1.0 - {BM25_B}
                          + {BM25_B} * p.dl / s.avgdl))) AS c
                FROM post p
                JOIN docs USING (doc_id, gen)
                JOIN q USING (term)
                JOIN dfs d USING (term)
                CROSS JOIN stats s
                WHERE docs.live AND p.doc_id NOT IN (SELECT doc_id FROM gone)
                {where})
            SELECT doc_id, list_sum(list(c ORDER BY pos)) AS score
            FROM contrib GROUP BY doc_id HAVING count(*) >= {need}
            ORDER BY score DESC, doc_id ASC
            LIMIT {k + TIE_DEPTH}""", list(terms) if phrase else []).fetchall()
        return [(d, float(s)) for d, s in rows]

    def expand(self, shape: str, q: str) -> list:
        """The dictionary terms (every indexed version counts, as in the
        engine's lexicon) that a prefix (``abc*``), fuzzy (``abc~1``) or
        wildcard (``a?c``) query rewrites to, ascending."""
        if shape == "prefix":
            key, cond, limit = "term", "starts_with(term, $1)", MAX_EXPANSIONS
            arg = q[:-1]
        elif shape == "fuzzy":
            arg, edits = q.rsplit("~", 1)
            key = "levenshtein(term, $1)"
            cond, limit = f"{key} <= {int(edits)}", FUZZY_TERMS
        else:
            arg = "".join("." if c == "?" else ".*" if c == "*" else
                          re.escape(c) for c in q)
            key = "term"
            cond, limit = "regexp_full_match(term, $1)", MAX_EXPANSIONS
        rows = self.con.execute(f"""
            SELECT term FROM (SELECT DISTINCT term FROM post)
            WHERE {cond} ORDER BY {key}, term LIMIT {limit}""",
            [arg]).fetchall()
        return sorted(t for t, in rows)

    def close(self) -> None:
        self.con.close()
