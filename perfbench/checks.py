"""Output checks: independent DuckDB and numpy queries over the generated
inputs.

They run after the timed loop.  Each op's recorded digest is compared
with what they compute from the same parquet files; every mismatch is
counted as a failed op.  The checks restate the engine's documented
semantics in plain SQL and share no code with the program:

- pipeline runs: per-source balanced limits (ordered by score, then id),
  the bbox applied after them, within/exclude as point distance
  ``sqrt(dx^2 + dy^2) < round(m / 111320, 6)`` with self-matches excluded
  (numpy, not DuckDB: a band join there takes seconds),
  BM25 (k1 = 1.2, b = 0.75) ranked by the 6-dp rounded score, then id;
- console SQL: the same statement run by DuckDB;
- area loads: row count = DuckDB bbox count (capped by the limit), and the
  cached flag = "the bbox lies inside the theme's last miss".
"""

from __future__ import annotations

import math

from common import duckdb_connect, id_digest, rows_match

K1, B = 1.2, 0.75
DEFAULT_LIMIT = 33_000

_TOKENS = (
    "list_filter(string_split(trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g')), ' '), "
    "x -> x <> '')"
)
_NORM = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"


def _query_terms(q: str) -> list[str]:
    import re

    seen: dict[str, None] = {}
    for tok in re.sub(r"[^a-z0-9]+", " ", q.lower()).split():
        seen.setdefault(tok, None)
    return list(seen)


class Bm25:
    """BM25 over one (id, text) relation, in DuckDB."""

    def __init__(self, con, relation: str, id_col: str, text_col: str):
        self.con = con
        name = f"tok_{relation}"
        con.execute(
            f"CREATE TEMP TABLE {name} AS SELECT {id_col} AS id, "
            f"{_TOKENS.format(c=text_col)} AS toks FROM {relation}"
        )
        con.execute(
            f"CREATE TEMP TABLE {name}_post AS SELECT id, term, count(*) AS tf, "
            f"any_value(dl) AS dl FROM (SELECT id, unnest(toks) AS term, len(toks) AS dl "
            f"FROM {name}) GROUP BY id, term"
        )
        self.n, self.avgdl = con.execute(
            f"SELECT count(*), sum(len(toks)) / count(*) FROM {name}"
        ).fetchone()
        self.post = f"{name}_post"

    def scores(self, query: str) -> dict:
        terms = _query_terms(query)
        if not terms:
            return {}
        inlist = ", ".join(f"'{t}'" for t in terms)
        rows = self.con.execute(f"""
            WITH p AS (SELECT * FROM {self.post} WHERE term IN ({inlist})),
                 d AS (SELECT term, count(*) AS df FROM p GROUP BY term)
            SELECT id, sum(ln(1 + ({self.n} - df + 0.5) / (df + 0.5)) * tf
                   / (tf + {K1} * (1 - {B} + {B} * dl / {self.avgdl})))
            FROM p JOIN d USING (term) GROUP BY id
        """).fetchall()
        return {i: s for i, s in rows}


def ranked(scores: dict, limit: int) -> list:
    """Ids by 6-dp rounded score desc, then id asc."""
    return sorted(scores, key=lambda i: (-round(scores[i], 6), i))[:limit]


def same_ranking(got: list, want: list, scores: dict, tol: float = 2e-6) -> bool:
    """Exact match, or equal up to swaps between scores within `tol`
    (float summation order can move a score across a rounding edge)."""
    if list(got) == list(want):
        return True
    if len(got) != len(want):
        return False
    return all(
        g in scores and abs(scores[g] - scores[w]) <= tol for g, w in zip(got, want)
    )


def _in_bbox(bbox):
    if bbox is None:
        return "TRUE"
    x0, y0, x1, y1 = bbox
    return (f"centroid_lon >= {x0!r} AND centroid_lon <= {x1!r} AND "
            f"centroid_lat >= {y0!r} AND centroid_lat <= {y1!r}")


class ExploreOracle:
    def __init__(self, inputs):
        self.inp = inputs
        con = self.con = duckdb_connect()
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{inputs.places}')")
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{inputs.orders}')")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{inputs.lineitem}')")
        con.execute(f"""CREATE TABLE theme_places AS SELECT
            'c' || CAST(c_custkey AS VARCHAR) AS id, c_name AS display_name,
            c_name || ' ' || c_mktsegment AS search_name,
            lon AS centroid_lon, lat AS centroid_lat,
            c_mktsegment AS _f0, CAST(c_nationkey AS VARCHAR) AS _f1
            FROM read_parquet('{inputs.places}')""")
        con.execute(f"""CREATE TABLE theme_docs AS SELECT
            'd' || CAST(doc_id AS VARCHAR) AS id, text AS search_name,
            lon AS centroid_lon, lat AS centroid_lat
            FROM read_parquet('{inputs.docs}')""")
        self.bm25 = Bm25(con, "theme_docs", "id", "search_name")

    def close(self) -> None:
        self.con.close()

    def _ids(self, sql: str) -> list:
        return [r[0] for r in self.con.execute(sql).fetchall()]

    def check_all(self, records) -> list[str]:
        bad = []
        for rec in records:
            if not rec.ok:
                continue
            if not getattr(self, f"_check_{rec.kind}")(rec):
                rec.ok = False
                rec.error = "output check failed"
                bad.append(f"op {rec.op_id} {rec.kind} {rec.params}")
        return bad

    def _check_search(self, rec) -> bool:
        p = rec.params
        scores = self.bm25.scores(p["terms"])
        top = ranked(scores, p["limit"])
        if p["bbox"] is not None:
            keep = set(self._ids(f"SELECT id FROM theme_docs WHERE {_in_bbox(p['bbox'])}"))
            top = [i for i in top if i in keep]
        return same_ranking(rec.digest, top, scores)

    def _union_ids(self, limit: int, bbox) -> list:
        h = math.ceil(limit / 2)
        return self._ids(f"""
            SELECT id FROM (
              (SELECT id, centroid_lon, centroid_lat FROM theme_places ORDER BY id LIMIT {h})
              UNION ALL
              (SELECT id, centroid_lon, centroid_lat FROM theme_docs ORDER BY id LIMIT {h}))
            WHERE {_in_bbox(bbox)} ORDER BY id LIMIT {limit}""")

    def _check_storm(self, rec) -> bool:
        """The storm's one run is a union pipeline with the last limit."""
        return rec.digest == id_digest(self._union_ids(rec.params["limit"], rec.params["bbox"]))

    def _points(self):
        """(ids, lon/lat array) of the places and of the documents, read
        from the generated files."""
        if not hasattr(self, "_pts"):
            import numpy as np
            import pyarrow.parquet as pq

            out = []
            for path, key, prefix in ((self.inp.places, "c_custkey", "c"), (self.inp.docs, "doc_id", "d")):
                t = pq.read_table(path, columns=[key, "lon", "lat"])
                ids = [f"{prefix}{k}" for k in t.column(key).to_pylist()]
                out.append((ids, np.column_stack([t.column("lon").to_numpy(), t.column("lat").to_numpy()])))
            self._pts = out
        return self._pts

    def _check_spatial(self, rec) -> bool:
        """Within: ids of places and documents that have a document (not
        themselves) closer than the distance, or are that document;
        exclude: places with no document that close.  Plain numpy over the
        generated points: a lon-sorted sweep, then the exact distance."""
        import numpy as np

        p = rec.params
        d = round(p["distance"] / 111320.0, 6)
        (pid, pxy), (did, dxy) = self._points()
        base_ids = pid + did if p["op"] == "within" else pid
        base = np.vstack([pxy, dxy]) if p["op"] == "within" else pxy
        order = np.argsort(dxy[:, 0], kind="stable")
        sx = dxy[order, 0]
        lo = np.searchsorted(sx, base[:, 0] - d, side="left")
        hi = np.searchsorted(sx, base[:, 0] + d, side="right")
        n = hi - lo
        a = np.repeat(np.arange(len(base)), n)
        b = order[np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n) + np.repeat(lo, n)]
        dx = base[a, 0] - dxy[b, 0]
        dy = base[a, 1] - dxy[b, 1]
        hit = np.sqrt(dx * dx + dy * dy) < d
        a, b = a[hit], b[hit]
        keep = [base_ids[i] != did[j] for i, j in zip(a.tolist(), b.tolist())]
        a, b = a[keep], b[keep]
        if p["op"] == "within":
            matched = {base_ids[i] for i in a.tolist()} | {did[j] for j in b.tolist()}
            ids = sorted(i for i in base_ids if i in matched)
        else:
            near = set(a.tolist())
            ids = sorted(base_ids[i] for i in range(len(base)) if i not in near)
        return rec.digest == id_digest(ids[: p["limit"]])

    def _check_console(self, rec) -> bool:
        want = [tuple(r) for r in self.con.execute(rec.params["sql"]).fetchall()]
        return rows_match(rec.digest, want)

    def _check_load(self, rec) -> bool:
        x0, y0, x1, y1 = rec.params["bbox"]
        ok = True
        for key, (rows, cached) in rec.digest.items():
            src = self.inp.places if key == "places" else self.inp.docs
            (n,) = self.con.execute(
                f"SELECT count(*) FROM read_parquet('{src}') WHERE lon >= {x0!r} AND lon <= {x1!r} "
                f"AND lat >= {y0!r} AND lat <= {y1!r}").fetchone()
            ok &= rows == min(n, DEFAULT_LIMIT)
            ok &= cached == rec.extra["expect_cached"][key]
        return ok


def shingles(text: str, k: int = 5) -> set[str]:
    import re

    t = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
    if len(t) < k:
        return {t}
    return {t[i:i + k] for i in range(len(t) - k + 1)}


class CorpusOracle:
    def __init__(self, inputs):
        self.inp = inputs
        con = self.con = duckdb_connect()
        con.execute(f"CREATE TABLE corpus AS SELECT * FROM read_parquet('{inputs.corpus}')")
        self.bm25 = Bm25(con, "corpus", "doc_id", "text")
        self.texts = dict(con.execute("SELECT doc_id, text FROM corpus").fetchall())
        self._exact = None

    def close(self) -> None:
        self.con.close()

    def exact_groups(self) -> list[list[int]]:
        if self._exact is None:
            self._exact = [r[0] for r in self.con.execute(
                f"SELECT list(doc_id ORDER BY doc_id) FROM corpus GROUP BY {_NORM.format(c='text')}"
            ).fetchall()]
        return self._exact

    def check_exact(self, kept: list[int]) -> bool:
        return sorted(kept) == sorted(g[0] for g in self.exact_groups())

    def check_pairs(self, pairs: list[tuple], threshold: float = 0.5) -> bool:
        """Every pair reaches the threshold; every exact-duplicate pair is
        found (Jaccard 1, identical signatures)."""
        cache: dict[int, set] = {}

        def sh(i):
            if i not in cache:
                cache[i] = shingles(self.texts[i])
            return cache[i]

        found = set()
        for a, b in pairs:
            sa, sb = sh(a), sh(b)
            if len(sa & sb) / len(sa | sb) < threshold - 1e-9:
                return False
            found.add((min(a, b), max(a, b)))
        for g in self.exact_groups():
            for i in range(len(g)):
                for j in range(i + 1, len(g)):
                    if (g[i], g[j]) not in found:
                        return False
        return True

    def check_topk(self, query: str, got: list, limit: int) -> bool:
        scores = self.bm25.scores(query)
        return same_ranking(got, ranked(scores, limit), scores)
