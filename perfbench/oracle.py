"""Independent answer oracle in DuckDB.

The oracle keeps its own model of the index: which rows the docmap holds,
which doc_id each one got and which are tombstoned. Terms come from
``tokenizer.duckdb_tokens_cte`` / ``duckdb_tokens_pos_cte``, the SQL
statement of the pinned tokenizer spec, not from the engine's numpy
tokenizer. BM25 statistics follow the engine's lazy-delete regime: until a
compaction, tombstoned rows still count in n_docs, avgdl and df, but never
appear in results.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

from luceneindexer_spark import BM25_B, BM25_K1
from luceneindexer_spark.query.oracle import query_terms
from luceneindexer_spark.tokenizer import (duckdb_tokens_cte,
                                           duckdb_tokens_pos_cte)

SCORE_TOL = 1e-6
TIE_TOL = 1e-9


class Oracle:
    def __init__(self, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute(
            "CREATE TABLE dm (doc_id BIGINT, repo VARCHAR, path VARCHAR, "
            "commit VARCHAR, content VARCHAR, dead BOOLEAN, dl BIGINT)")
        self.con.execute("CREATE TABLE tf (doc_id BIGINT, term VARCHAR, "
                         "tf BIGINT)")
        self.con.execute("CREATE TABLE pos (doc_id BIGINT, term VARCHAR, "
                         "pos BIGINT)")
        self.range_size = 0

    # -- model of the docmap ------------------------------------------------

    def _insert(self, rows: list[tuple]) -> None:
        """rows: (doc_id, repo, path, commit, content)."""
        new = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "repo": [r[1] for r in rows], "path": [r[2] for r in rows],
            "commit": [r[3] for r in rows], "content": [r[4] for r in rows]})
        con = self.con
        con.register("new_rows", new)
        con.execute(f"INSERT INTO tf SELECT doc_id, term, count(*) FROM "
                    f"({duckdb_tokens_cte('new_rows', 'doc_id', 'content')}) "
                    f"GROUP BY ALL")
        con.execute("INSERT INTO pos " + duckdb_tokens_pos_cte(
            "new_rows", "doc_id", "content"))
        con.execute("INSERT INTO dm SELECT n.doc_id, repo, path, commit, "
                    "content, false, coalesce(s.dl, 0) FROM new_rows n "
                    "LEFT JOIN (SELECT doc_id, sum(tf) AS dl FROM tf GROUP "
                    "BY doc_id) s USING (doc_id)")
        con.unregister("new_rows")

    def load_corpus(self, docs) -> None:
        """Expected docmap of a fresh build: the newest commit of each
        (repo, path), numbered densely in (repo, path, commit) order."""
        live = sorted(((d.repo, d.path, d.commit, d.content) for d in docs))
        self._insert([(i,) + r for i, r in enumerate(live)])

    def upsert(self, docs) -> list[int]:
        """Model ``append_documents``: rows newer than the live version of
        their key supersede it (tombstone); new rows are numbered in
        (repo, path, commit) order from the next range boundary. Returns
        the new doc_ids."""
        cur = {(r[0], r[1]): (r[2], r[3]) for r in self.con.execute(
            "SELECT repo, path, max(commit), arg_max(doc_id, commit) "
            "FROM dm GROUP BY repo, path").fetchall()}
        add, dead = [], []
        for d in docs:
            old = cur.get((d.repo, d.path))
            if old is None or d.commit > old[0]:
                add.append((d.repo, d.path, d.commit, d.content))
                if old is not None:
                    dead.append(old[1])
        self.delete(dead)
        start = self.n_ranges() * self.range_size
        add.sort()
        self._insert([(start + i,) + r for i, r in enumerate(add)])
        return [start + i for i in range(len(add))]

    def n_ranges(self) -> int:
        (mx,) = self.con.execute("SELECT max(doc_id) FROM dm").fetchone()
        return max(1, math.ceil((mx + 1) / self.range_size))

    def delete(self, ids: list[int]) -> None:
        if ids:
            self.con.execute("UPDATE dm SET dead = true WHERE doc_id IN "
                             "(SELECT unnest(?))", [ids])

    def compact(self) -> None:
        for t in ("tf", "pos"):
            self.con.execute(f"DELETE FROM {t} WHERE doc_id IN "
                             f"(SELECT doc_id FROM dm WHERE dead)")
        self.con.execute("DELETE FROM dm WHERE dead")

    def live_ids(self) -> list[int]:
        return [r[0] for r in self.con.execute(
            "SELECT doc_id FROM dm WHERE NOT dead ORDER BY doc_id").fetchall()]

    def live_keys(self) -> list[tuple[str, str]]:
        return self.con.execute(
            "SELECT repo, path FROM dm WHERE NOT dead ORDER BY ALL").fetchall()

    def rare_term(self, doc_id: int) -> str:
        """The term of ``doc_id`` with the lowest df (ties: smallest)."""
        return self.con.execute(
            "SELECT term FROM tf t JOIN (SELECT term, count(*) AS df FROM tf "
            "GROUP BY term) USING (term) WHERE t.doc_id = ? "
            "ORDER BY df, term LIMIT 1", [doc_id]).fetchone()[0]

    # -- expected index contents --------------------------------------------

    def docmap(self) -> list[tuple]:
        return self.con.execute(
            "SELECT doc_id, repo, path, commit, sha256(content) FROM dm "
            "ORDER BY doc_id").fetchall()

    def term_stats(self) -> dict[str, tuple[int, int]]:
        return {t: (df, cf) for t, df, cf in self.con.execute(
            "SELECT term, count(*), sum(tf) FROM tf GROUP BY term").fetchall()}

    def corpus_stats(self) -> tuple[int, float]:
        n, tokens = self.con.execute(
            "SELECT count(*), sum(dl) FROM dm").fetchone()
        return n, (tokens / n if n else 0.0)

    # -- expected answers ---------------------------------------------------

    def _contrib(self, terms: list[str]) -> dict[int, dict[str, float]]:
        """Per live doc: BM25 contribution of each present query term."""
        rows = self.con.execute(f"""
            WITH st AS (SELECT count(*)::DOUBLE AS n,
                               sum(dl)::DOUBLE / count(*) AS avgdl FROM dm),
            q AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                  WHERE term IN (SELECT unnest(?)) GROUP BY term)
            SELECT tf.doc_id, tf.term,
                   ln(1 + (st.n - q.df + 0.5) / (q.df + 0.5)) * tf.tf
                   * {BM25_K1 + 1.0} / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                   + {BM25_B} * dm.dl / st.avgdl))
            FROM tf JOIN q USING (term) JOIN dm USING (doc_id), st
            WHERE NOT dm.dead""", [terms]).fetchall()
        out: dict[int, dict[str, float]] = {}
        for doc, term, s in rows:
            out.setdefault(doc, {})[term] = s
        return out

    def _phrase_docs(self, terms: list[str]) -> set[int]:
        sql = "SELECT p0.doc_id FROM pos p0"
        for i in range(1, len(terms)):
            sql += (f" JOIN pos p{i} ON p{i}.doc_id = p0.doc_id "
                    f"AND p{i}.pos = p0.pos + {i} AND p{i}.term = ${i + 1}")
        sql += " WHERE p0.term = $1"
        return {r[0] for r in self.con.execute(sql, terms).fetchall()}

    def scores(self, shape: str, query: str) -> dict[int, float]:
        """Every matching live doc with its score, for one query of a
        benchmark shape (the engine's semantics for that call)."""
        if shape.startswith("qs_"):
            return self._query_string(shape, query)
        terms = query_terms(query)
        c = self._contrib(terms)
        if shape.startswith("or"):
            return {d: sum(v.values()) for d, v in c.items()}
        hits = {d: sum(v[t] for t in terms) for d, v in c.items()
                if len(v) == len(terms)}
        if shape == "phrase":
            keep = self._phrase_docs(terms)
            hits = {d: s for d, s in hits.items() if d in keep}
        return hits

    def _query_string(self, shape: str, query: str) -> dict[int, float]:
        if shape == "qs_must":          # "+a b": a MUST, b SHOULD
            must, should = query.split()
            a, b = query_terms(must)[0], query_terms(should)[0]
            c = self._contrib([a, b])
            return {d: sum(v.values()) for d, v in c.items() if a in v}
        # "a (b AND c)": a SHOULD, the all-MUST group SHOULD
        head, group = query.split(" ", 1)
        a = query_terms(head)[0]
        b, c_ = (t for t in query_terms(group) if t != "and")
        c = self._contrib([a, b, c_])
        out = {}
        for d, v in c.items():
            s = v.get(a, 0.0)
            grp = b in v and c_ in v
            if grp:
                s += v[b] + v[c_]
            if a in v or grp:
                out[d] = s
        return out


def ranked(scores: dict[int, float]) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))


def same_topk(got: list[tuple[int, float]], scores: dict[int, float],
              k: int) -> bool:
    """doc_ids exact and scores within SCORE_TOL, rank by rank; a different
    doc at a rank is accepted only when the oracle scores it within TIE_TOL
    of the expected doc (a float tie the two sides may order differently)."""
    want = ranked(scores)[:k]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return False
        if gd != wd and (gd not in scores or abs(scores[gd] - ws) > TIE_TOL):
            return False
    return True
