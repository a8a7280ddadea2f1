"""Expected results for every timed operation, computed in DuckDB.

The oracle's only input is the analysed corpus -- ``frames_to_postings``
over ``build_frames`` plus the frame lengths, collected once in set-up --
so it shares no code with ``caterpillar_spark.indexing`` or
``caterpillar_spark.query``.  Semantics restated here:

* ``wand_topk``: document-level Okapi BM25 (k1=1.2, b=0.75), tf summed
  over a document's frames, dl = the document's token count,
  ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` with df and N over the
  live documents and avgdl given by the caller (an appended index keeps
  the avgdl of its base build).
* ``execute_query`` / ``execute_many`` with ``scorer="bm25"`` at
  document unit: frame-level BM25 (N = frames, df = frames holding the
  term, dl = frame tokens, avgdl = tokens / frames) summed per document
  over every (clause group, variant) row; a ``"a b"`` phrase keeps
  documents with a frame where ``b`` sits one position after ``a``;
  ``lang:en`` filters the scored postings; ``x*`` and ``x~d`` expand
  over the vocabulary (sorted by term, or by edit distance then term,
  at most 64 variants).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import duckdb

K1, B = 1.2, 0.75
MAX_EXPANSIONS = 64
REL_TOL = 1e-9


def levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _in_list(terms: Sequence[str]) -> str:
    return "(" + ",".join(_lit(t) for t in terms) + ")"


class Oracle:
    """``postings``: (doc_id, frame_seq, frame_tokens, lang, term, freq,
    positions); ``frames``: (doc_id, frame_seq, frame_tokens); ``slices``:
    (doc_id, slice) -- slice 0 is the base build, slice j > 0 the j-th
    appended batch."""

    def __init__(self, postings, frames, slices):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for name, table in (("p_all", postings), ("f_all", frames), ("s_all", slices)):
            self.con.register(name + "_src", table)
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_src")
            self.con.unregister(name + "_src")
        self.con.execute(
            "CREATE TABLE p AS SELECT p_all.* FROM p_all JOIN s_all USING (doc_id)"
            " WHERE slice = 0")
        self.con.execute(
            "CREATE TABLE f AS SELECT f_all.* FROM f_all JOIN s_all USING (doc_id)"
            " WHERE slice = 0")
        self.live_slices = 0

    def set_live(self, max_slice: int) -> None:
        """Make slices ``0..max_slice`` the live documents."""
        if max_slice == self.live_slices:
            return
        for t in ("p", "f"):
            self.con.execute(f"DROP TABLE {t}")
            self.con.execute(
                f"CREATE TABLE {t} AS SELECT {t}_all.* FROM {t}_all JOIN s_all"
                f" USING (doc_id) WHERE slice <= {int(max_slice)}")
        self.live_slices = max_slice

    # -- corpus facts -----------------------------------------------------
    def doc_avgdl(self) -> float:
        return self.con.execute(
            "SELECT avg(dl) FROM (SELECT sum(frame_tokens) dl FROM f GROUP BY doc_id)"
        ).fetchone()[0]

    def vocabulary(self) -> List[Tuple[str, int, int]]:
        """(term, document frequency, frame frequency) over live docs,
        most frequent first, term ascending on ties."""
        return self.con.execute(
            "SELECT term, count(DISTINCT doc_id) df, count(*) ff FROM p"
            " GROUP BY term ORDER BY df DESC, term").fetchall()

    def bigrams(self) -> List[Tuple[str, str, int]]:
        """Adjacent term pairs inside a frame, with their document count."""
        return self.con.execute(
            "SELECT a, b, count(DISTINCT doc_id) n FROM ("
            " SELECT doc_id, frame_seq, pos, term a,"
            "  lead(term) OVER (PARTITION BY doc_id, frame_seq ORDER BY pos) b,"
            "  lead(pos) OVER (PARTITION BY doc_id, frame_seq ORDER BY pos) nxt"
            " FROM (SELECT doc_id, frame_seq, term, unnest(positions) pos FROM p))"
            " WHERE nxt = pos + 1 GROUP BY a, b ORDER BY n DESC, a, b").fetchall()

    # -- expected results -------------------------------------------------
    def wand(self, terms: Sequence[str], mode: str = "or",
             must_not: Sequence[str] = (), avgdl: Optional[float] = None) -> Dict[int, float]:
        """Every qualifying document's document-level BM25 score."""
        terms = sorted(set(terms))
        neg = sorted(set(must_not) - set(terms))
        avgdl = self.doc_avgdl() if avgdl is None else avgdl
        n = self.con.execute("SELECT count(DISTINCT doc_id) FROM f").fetchone()[0]
        need = f"AND nt = {len(terms)}" if mode == "and" else ""
        excl = (f"AND doc_id NOT IN (SELECT doc_id FROM p WHERE term IN {_in_list(neg)})"
                if neg else "")
        rows = self.con.execute(f"""
            WITH d AS (SELECT doc_id, sum(frame_tokens) dl FROM f GROUP BY doc_id),
            tf AS (SELECT doc_id, term, sum(freq) tf FROM p
                   WHERE term IN {_in_list(terms)} GROUP BY doc_id, term),
            df AS (SELECT term, count(DISTINCT doc_id) df FROM p
                   WHERE term IN {_in_list(terms)} GROUP BY term),
            s AS (SELECT doc_id, count(*) nt, sum(
                    ln(1 + ({n} - df + 0.5) / (df + 0.5))
                    * (tf * {K1 + 1.0} / (tf + {K1} * (1 - {B} + {B} * dl / {avgdl!r}))))
                    score
                  FROM tf JOIN df USING (term) JOIN d USING (doc_id) GROUP BY doc_id)
            SELECT doc_id, score FROM s WHERE true {need} {excl}""").fetchall()
        return dict(rows)

    def expand_prefix(self, prefix: str, vocab: Sequence[str]) -> List[str]:
        return sorted(t for t in vocab if t.startswith(prefix))[:MAX_EXPANSIONS]

    def expand_fuzzy(self, term: str, d: int, vocab: Sequence[str]) -> List[str]:
        hits = [(levenshtein(t, term), t) for t in vocab if abs(len(t) - len(term)) <= d]
        return [t for dist, t in sorted(hits) if dist <= d][:MAX_EXPANSIONS]

    def frame_bm25(self, groups: Sequence[Sequence[str]], lang: Optional[str] = None,
                   phrases: Sequence[Tuple[str, str]] = ()) -> Dict[int, float]:
        """Frame-level BM25 rolled up per document over ``groups`` (each a
        clause's variant list), optionally filtered by ``lang`` and
        constrained by two-word phrases."""
        rows = [(t, g) for g, variants in enumerate(groups) for t in variants]
        terms = sorted({t for t, _ in rows})
        n, avgdl = self.con.execute(
            "SELECT count(*), sum(frame_tokens) / count(*) FROM f").fetchone()
        q = ",".join(f"({_lit(t)}, {g})" for t, g in rows)
        where = f"AND p.lang = {_lit(lang)}" if lang else ""
        cons = ""
        for a, b in phrases:
            cons += (f" AND doc_id IN (SELECT x.doc_id FROM p x JOIN p y USING (doc_id, frame_seq)"
                     f" WHERE x.term = {_lit(a)} AND y.term = {_lit(b)}"
                     f" AND list_has_any(y.positions,"
                     f" list_transform(x.positions, v -> v + 1)))")
        out = self.con.execute(f"""
            WITH q(term, gid) AS (VALUES {q}),
            ff AS (SELECT term, count(*) ff FROM p WHERE term IN {_in_list(terms)} GROUP BY term),
            s AS (SELECT p.doc_id, sum(ln(1 + ({n} - ff + 0.5) / (ff + 0.5))
                    * (p.freq * {K1 + 1.0}
                       / (p.freq + {K1} * (1 - {B} + {B} * p.frame_tokens / {avgdl!r}))))
                    score
                  FROM p JOIN q USING (term) JOIN ff USING (term)
                  WHERE true {where} GROUP BY p.doc_id)
            SELECT doc_id, score FROM s WHERE true {cons}""").fetchall()
        return dict(out)


def top_k(scores: Dict[int, float], k: int) -> List[Tuple[int, float]]:
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def matches(got: Sequence[Tuple[int, float]], scores: Dict[int, float], k: int) -> bool:
    """True when ``got`` is a valid top-k of ``scores``: the expected
    score at every rank and each returned document carrying its own
    expected score, so documents tied on score may come back in any
    order."""
    want = top_k(scores, k)
    if len(got) != len(want):
        return False
    for (doc, s), (_, ws) in zip(got, want):
        if doc not in scores:
            return False
        tol = REL_TOL * max(1.0, abs(ws))
        if abs(s - ws) > tol or abs(scores[doc] - s) > tol:
            return False
    return len({d for d, _ in got}) == len(got)
