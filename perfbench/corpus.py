"""`corpus`: batch passes over a seeded near-duplicate corpus.

One pass runs exact dedup, MinHash-LSH near-dup pairs, an FTS build with
one BM25 top-k search, exact cosine top-k and an IVF probe (the quantizer
is trained at set-up), and the Gopher quality rules.  Every step is one
op.  There is no warm-up: a batch job pays its cold start on every run,
so the timed pass is the process's first.  The pass never touches the engine
facade, the pipeline compiler, the sources or the state store.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

import gen
from common import OpRecord

TOPK = 10

#: one pass: each step of the workload's definition once, in its order
STEPS = ("exact", "lsh", "fts_build", "search", "cosine", "ivf", "quality")

#: IVF recall@10 against exact cosine top-k must hold at this floor
RECALL_FLOOR = 0.8


class Corpus:
    name = "corpus"

    def __init__(self, spark, *, seed: int, scale: float):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.rng = np.random.default_rng(seed + 104729)
        self.pass_s: list[float] = []
        self.recalls: list[float] = []
        self.pairs: list[int] = []
        self._pass_t = 0.0
        self._exact: dict[int, list] = {}

    def prepare(self, root: str) -> None:
        """Generate the inputs (once per run)."""
        self.inputs = gen.generate(os.path.join(root, "inputs"), self.seed, self.scale)

    def build(self) -> None:
        """Read and cache the corpus, the embeddings and the query vectors,
        and train the IVF quantizer."""
        from overturemaps_duckdb_spark.operators import similarity

        sp, inp = self.spark, self.inputs
        self.corpus = sp.read.parquet(inp.corpus).cache()
        self.n_docs = self.corpus.count()
        self.emb = sp.read.parquet(inp.embeddings).cache()
        self.emb.count()
        self.queries = sp.read.parquet(inp.queries).cache()
        self.queries.count()
        assigned, self.centroids = similarity.ivf_build(self.emb, seed=self.seed % 1000)
        self.assigned = assigned.cache()
        self.assigned.count()
        self.idx = None

    def sequence(self) -> tuple[str, ...]:
        return STEPS

    def warmup(self) -> None:
        """None: a batch job pays its cold start on every run, so the timed
        pass is the first one in the process."""

    def _one_pass(self):
        words = gen.VOCAB[:-2]
        for step in STEPS:
            if step == "search":
                k = int(self.rng.integers(1, 4))
                yield "search", {"terms": " ".join(self.rng.choice(words, k, replace=False))}
            else:
                yield step, {}

    def ops(self):
        while True:
            yield from self._one_pass()

    def execute(self, rec: OpRecord) -> None:
        from overturemaps_duckdb_spark.operators import dedup, fts, similarity, textprep

        kind = rec.kind
        if kind == "exact":
            rows = dedup.exact_dedup(self.corpus, "doc_id", "text").select("doc_id").collect()
            rec.digest = [r[0] for r in rows]
        elif kind == "lsh":
            rows = dedup.minhash_lsh_pairs(
                self.corpus, "doc_id", "text", n_hashes=16, bands=4, shingle_k=5,
                jaccard_threshold=0.5,
            ).select("a_id", "b_id").collect()
            rec.digest = [(r[0], r[1]) for r in rows]
        elif kind == "fts_build":
            if self.idx is not None:
                self.idx.unpersist()
            self.idx = fts.build_fts_index(self.corpus, "doc_id", "text").persist()
            rec.digest = self.idx.postings.count()
        elif kind == "search":
            rows = fts.bm25_topk(self.idx, self.corpus, "doc_id", rec.params["terms"], TOPK) \
                .select("doc_id").collect()
            rec.digest = [r[0] for r in rows]
        elif kind == "cosine":
            rows = similarity.cosine_topk(self.emb, self.queries, k=TOPK) \
                .select("query_id", "vec_id", "cosine", "rank").collect()
            rec.digest = rows
            self._exact = _by_query(rows)
        elif kind == "ivf":
            rows = similarity.ivf_topk(
                self.assigned, self.centroids, self.queries, k=TOPK,
            ).select("query_id", "vec_id").collect()
            got = _by_query(rows)
            rec.digest = got
            rec.extra["recall"] = _recall(got, self._exact)
        elif kind == "quality":
            rows = textprep.gopher_rules(self.corpus, "doc_id", "text").select("id", "keep").collect()
            rec.digest = (len(rows), len({r[0] for r in rows}))
        else:
            raise ValueError(kind)

    def after_op(self, rec: OpRecord) -> float:
        self._pass_t += rec.ms / 1e3
        if rec.kind == "lsh" and rec.ok:
            self.pairs.append(len(rec.digest))
        if rec.kind == "ivf" and rec.ok:
            self.recalls.append(rec.extra["recall"])
        if rec.kind == STEPS[-1]:
            self.pass_s.append(self._pass_t)
            self._pass_t = 0.0
        return 0.0

    # -- checks --------------------------------------------------------------

    def check(self, records: list[OpRecord]) -> list[str]:
        from checks import CorpusOracle, same_ranking

        oracle = CorpusOracle(self.inputs)
        exact_ref = _numpy_topk(self.inputs)
        bad = []
        try:
            for rec in records:
                if not rec.ok:
                    continue
                k, d = rec.kind, rec.digest
                if k == "exact":
                    ok = oracle.check_exact(d)
                elif k == "lsh":
                    ok = oracle.check_pairs(d)
                elif k == "fts_build":
                    ok = d > 0
                elif k == "search":
                    ok = oracle.check_topk(rec.params["terms"], d, TOPK)
                elif k == "cosine":
                    got = _by_query([(r[0], r[1]) for r in d])
                    ok = all(
                        same_ranking(got.get(q, []), want, scores)
                        for q, (want, scores) in exact_ref.items()
                    )
                elif k == "ivf":
                    ok = rec.extra["recall"] >= RECALL_FLOOR
                else:
                    ok = d == (self.n_docs, self.n_docs)
                if not ok:
                    rec.ok = False
                    rec.error = "output check failed"
                    bad.append(f"op {rec.op_id} {k} {rec.params}")
        finally:
            oracle.close()
        return bad

    def docs_per_s(self) -> float:
        return statistics.median(self.n_docs / s for s in self.pass_s) if self.pass_s else 0.0


def _by_query(rows) -> dict[int, list]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r[0], []).append(r[1])
    return out


def _recall(got: dict, exact: dict) -> float:
    if not exact:
        return 0.0
    hits = sum(len(set(got.get(q, [])) & set(ids)) for q, ids in exact.items())
    return hits / sum(len(ids) for ids in exact.values())


def _numpy_topk(inputs) -> dict[int, tuple[list, dict]]:
    """Exact cosine top-k per query with numpy (float64 over the stored
    float32 vectors): {query_id: (ranked ids, {id: cosine})}."""
    import pyarrow.parquet as pq

    from checks import ranked

    emb = pq.read_table(inputs.embeddings)
    qs = pq.read_table(inputs.queries)
    ids = emb.column("vec_id").to_numpy()
    m = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    q = np.array(qs.column("embedding").to_pylist(), dtype=np.float64)
    cos = (q @ m.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(m, axis=1))
    out = {}
    for qi, qid in enumerate(qs.column("query_id").to_pylist()):
        scores = {int(i): float(c) for i, c in zip(ids, cos[qi])}
        out[qid] = (ranked(scores, TOPK), scores)
    return out
