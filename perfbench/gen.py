"""Seeded input generation for the benchmark.

Every input the program sees is built here from the workload seed, with
numpy and pyarrow only, into a fresh directory of the run's work area.
The shapes follow the TPC-H-style fixture the repository's tests use
(customer / orders / lineitem, plus documents and embeddings), so the
themes are the same "customer-derived" and "document-derived" point
tables the pipeline queries build:

- ``places``: customer rows placed on a map.  Most points sit in a few
  dozen seeded "cities" (a Zipf-weighted set of centres with a small
  Gaussian spread); a share is spread uniformly, so wide viewports cover
  many grid cells the way real map data does.
- ``docs``: documents with bag-of-words text over a fixed vocabulary,
  placed around the same city centres.
- ``orders`` / ``lineitem``: the console's q1/q3-shaped SQL targets,
  keyed to the places' customer keys.
- ``embeddings`` / ``queries``: clustered 64-d vectors for the corpus
  workload's exact and IVF search.
- ``corpus``: the documents plus seeded exact and near duplicates.

Theme sources are staged as several lon-banded parquet files, so the
engine's file manifest has files to prune for a bbox.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: document vocabulary.  No two words share a Porter stem, so BM25 over
#: stemmed tokens equals BM25 over the raw words, and the DuckDB check
#: (which has no stemmer offline) scores the same terms the engine does.
VOCAB = (
    "spark stream batch sort hash join scan filter group window merge "
    "vector column row table query order key part line fast slow big small "
    "data agg map tile road park cafe river bridge school market station "
    "museum harbor tower garden church a the"
).split()

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "de", "fr", "es", "zh")

#: full-scale row counts (sf0.1 shapes for the themes and the corpus;
#: sf0.01 for the console's lineitem/orders, so console SQL stays
#: interactive on a 4-core box)
FULL = {
    "places": 15_000,
    "docs": 5_000,
    "orders": 15_000,
    "embeddings": 2_000,
    "corpus": 5_000,
}

#: lon bands the theme sources are staged in (manifest pruning input)
N_BANDS = 8
N_CITIES = 48
DIM = 64
N_CLUSTERS = 10
N_QUERIES = 20


@dataclass
class Inputs:
    root: str
    places_files: list[str]
    docs_files: list[str]
    places: str  # single-file copies the DuckDB checks read
    docs: str
    orders: str
    lineitem: str
    embeddings: str
    queries: str
    corpus: str
    places_xy: np.ndarray  # (n, 2) lon/lat of every place
    docs_xy: np.ndarray  # (n, 2) lon/lat of every document


def _n(name: str, scale: float, floor: int) -> int:
    return max(floor, int(round(FULL[name] * scale)))


def _points(rng, n, cities, weights, clustered, spread):
    """n lon/lat points: `clustered` share around cities, rest uniform."""
    lon = np.empty(n)
    lat = np.empty(n)
    k = int(round(n * clustered))
    c = rng.choice(len(cities), size=k, p=weights)
    lon[:k] = cities[c, 0] + rng.normal(0, spread, k)
    lat[:k] = cities[c, 1] + rng.normal(0, spread * 0.7, k)
    lon[k:] = rng.uniform(-179.9, 179.9, n - k)
    lat[k:] = rng.uniform(-58.0, 72.0, n - k)
    perm = rng.permutation(n)
    return np.clip(lon[perm], -179.99, 179.99), np.clip(lat[perm], -89.0, 89.0)


def _texts(rng, n, lo=8, hi=70):
    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.9
    p = p / p.sum()
    order = rng.permutation(len(VOCAB))
    out = []
    for length in rng.integers(lo, hi, n):
        out.append(" ".join(VOCAB[order[i]] for i in rng.choice(len(VOCAB), length, p=p)))
    return out


def _stage_banded(table: pa.Table, lon: np.ndarray, out_dir: str, stem: str) -> list[str]:
    edges = np.linspace(-180.0, 180.0, N_BANDS + 1)
    band = np.clip(np.searchsorted(edges, lon, side="right") - 1, 0, N_BANDS - 1)
    files = []
    for b in range(N_BANDS):
        idx = np.nonzero(band == b)[0]
        if len(idx) == 0:
            continue
        path = os.path.join(out_dir, f"{stem}_band{b}.parquet")
        pq.write_table(table.take(pa.array(idx)), path)
        files.append(path)
    return files


def generate(root: str, seed: int, scale: float = 1.0) -> Inputs:
    """Write every input under `root` (created) from `seed`."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)

    cities = np.column_stack(
        [rng.uniform(-170.0, 170.0, N_CITIES), rng.uniform(-50.0, 62.0, N_CITIES)]
    )
    weights = 1.0 / np.arange(1, N_CITIES + 1) ** 1.1
    weights = weights / weights.sum()

    # -- places (customer-derived point theme)
    n_p = _n("places", scale, 150)
    key = np.arange(1, n_p + 1, dtype=np.int64)
    lon, lat = _points(rng, n_p, cities, weights, 0.92, 0.25)
    places = pa.table(
        {
            "c_custkey": key,
            "c_name": [f"Customer#{k:09d}" for k in key],
            "c_nationkey": rng.integers(0, 25, n_p).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_p), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n_p)],
            "lon": lon,
            "lat": lat,
        }
    )
    # -- docs (document-derived point theme with text)
    n_d = _n("docs", scale, 200)
    dlon, dlat = _points(rng, n_d, cities, weights, 0.85, 0.3)
    texts = _texts(rng, n_d)
    docs = pa.table(
        {
            "doc_id": np.arange(n_d, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            "lon": dlon,
            "lat": dlat,
        }
    )
    stage = os.path.join(root, "staged")
    os.makedirs(stage, exist_ok=True)
    places_files = _stage_banded(places, lon, stage, "places")
    docs_files = _stage_banded(docs, dlon, stage, "docs")
    places_path = os.path.join(root, "places.parquet")
    docs_path = os.path.join(root, "docs.parquet")
    pq.write_table(places, places_path)
    pq.write_table(docs, docs_path)

    # -- orders / lineitem (console q1/q3 targets)
    n_o = _n("orders", scale, 300)
    day0 = np.datetime64("1992-01-01", "us")
    odays = rng.integers(0, 2400, n_o)
    orders = pa.table(
        {
            "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_p + 1, n_o).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)],
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_o), 2),
            "o_orderdate": day0 + odays.astype("timedelta64[D]"),
        }
    )
    per = rng.integers(1, 8, n_o)
    l_ok = np.repeat(orders.column("o_orderkey").to_numpy(), per)
    n_l = len(l_ok)
    ship = np.repeat(odays, per) + rng.integers(1, 122, n_l)
    lineitem = pa.table(
        {
            "l_orderkey": l_ok,
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
            "l_shipdate": day0 + ship.astype("timedelta64[D]"),
        }
    )
    orders_path = os.path.join(root, "orders.parquet")
    lineitem_path = os.path.join(root, "lineitem.parquet")
    pq.write_table(orders, orders_path)
    pq.write_table(lineitem, lineitem_path)

    # -- embeddings + query vectors (clustered, 64-d)
    n_e = _n("embeddings", scale, 200)
    centres = rng.normal(0, 1, (N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, n_e)
    vecs = (centres[label] + rng.normal(0, 0.6, (n_e, DIM))).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": np.arange(n_e, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    qsrc = rng.choice(n_e, N_QUERIES, replace=False)
    qvecs = (vecs[qsrc] + rng.normal(0, 0.3, (N_QUERIES, DIM))).astype(np.float32)
    queries = pa.table(
        {
            "query_id": np.arange(N_QUERIES, dtype=np.int64),
            "embedding": pa.array(list(qvecs), type=pa.list_(pa.float32())),
        }
    )
    emb_path = os.path.join(root, "embeddings.parquet")
    q_path = os.path.join(root, "queries.parquet")
    pq.write_table(emb, emb_path)
    pq.write_table(queries, q_path)

    # -- near-duplicate corpus: originals + exact copies (case/punctuation
    #    variants normalize to the same text) + near copies (a few words
    #    swapped)
    n_c = _n("corpus", scale, 200)
    n_orig = int(n_c * 0.7)
    n_exact = int(n_c * 0.15)
    n_near = n_c - n_orig - n_exact
    base = _texts(rng, n_orig, 20, 90)
    corpus_text = list(base)
    for i in rng.integers(0, n_orig, n_exact):
        t = base[i]
        corpus_text.append(t.upper() + " !" if rng.random() < 0.5 else "  " + t.replace(" ", ", ", 2))
    for i in rng.integers(0, n_orig, n_near):
        words = base[i].split()
        for j in rng.choice(len(words), max(1, len(words) // 12), replace=False):
            words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        corpus_text.append(" ".join(words))
    perm = rng.permutation(n_c)
    corpus_text = [corpus_text[i] for i in perm]
    corpus = pa.table(
        {
            "doc_id": np.arange(n_c, dtype=np.int64),
            "text": corpus_text,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_c)],
            "n_chars": np.array([len(t) for t in corpus_text], dtype=np.int64),
        }
    )
    corpus_path = os.path.join(root, "corpus.parquet")
    pq.write_table(corpus, corpus_path)

    return Inputs(
        root=root,
        places_files=places_files,
        docs_files=docs_files,
        places=places_path,
        docs=docs_path,
        orders=orders_path,
        lineitem=lineitem_path,
        embeddings=emb_path,
        queries=q_path,
        corpus=corpus_path,
        places_xy=np.column_stack([lon, lat]),
        docs_xy=np.column_stack([dlon, dlat]),
    )
