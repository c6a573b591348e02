"""`explore`: one map user in a closed loop.

The user edits a pipeline over two themes read and cached once during
set-up (FTS searches, unions, within/exclude filters, debounced edit storms),
types console SQL, and pans and zooms the map, which loads areas through
``Engine.load_area`` with the snapview store (the write path: manifest
prune, batched ingest, grid-layout write, snapview save, FTS build,
load-history append).  The op cycle is fixed; the terms, limits, bboxes,
distances and SQL parameters are drawn from the seed.
"""

from __future__ import annotations

import os
import time

import numpy as np

from common import OpRecord, dir_stats, id_digest
import gen

#: one round of the session, walked by untraced and traced runs alike: one
#: op of each action kind the workload defines (an FTS search, an edit
#: storm on a union pipeline, a console query, a within and an exclude
#: filter) and one area miss followed by a zoom-in that the snapview
#: serves.  The workload names no shares, so each kind weighs the same; that
#: weighting is an assumption (perfbench/README.md lists the source of
#: every share and parameter).
ROUND = ("search", "load_miss", "storm", "console", "within", "load_zoom", "exclude")

#: ops run once before timing (see Explore.warmup)
WARMUP = ("search", "within")

#: console query shapes, drawn with equal odds (assumed)
CONSOLE = ("console_q1", "console_q3", "console_theme")

#: viewport half-widths (lon, lat) in degrees: a 1280 x 720 px screen of
#: 256 px Web-Mercator tiles at zoom 10 (city), 7 (region) and 5
#: (continent), which spans 1280 / 256 * 360 / 2**z degrees of longitude
EXTENT = {
    cls: (2.5 * 360 / 2**z, 1.40625 * 360 / 2**z)
    for cls, z in (("city", 10), ("region", 7), ("continent", 5))
}

#: viewport class of the area misses, cycled from the seed: mostly city or
#: region, a few continental (assumed shares 5 : 4 : 1; global loads are
#: left out, see README).  Cycling instead of drawing makes any ten
#: consecutive seeds hold these shares exactly.
MISS_CYCLE = ("continent", "city", "region", "city", "region", "city", "region", "city", "region", "city")

#: parameter values the repository's own pipeline queries use
#: (overturemaps_duckdb_spark/queries/pipeline.py): the result limits of
#: pl6 (FTS, 10), pl2 (search, 60), pl1 (union, 40), pl3 (bbox, 2000),
#: pl4/pl5 (spatial, 5000) and the app default (plans.pipeline
#: DEFAULT_LIMIT, 3000); pl3's viewport bbox; pl4/pl5's distance
SEARCH_LIMITS = (10, 60, 3000)
UNION_LIMITS = (40, 2000, 3000)
SPATIAL_LIMITS = (5000, 3000)
PL3_BBOX = (-90.0, -45.0, 90.0, 45.0)
WITHIN_M = 6957.5

BASE = {"places": "theme_places", "docs": "theme_docs"}
AREA = {"places": "area_places", "docs": "area_docs"}
FIELDS = {"places": ["segment", "nation"], "docs": ["lang", "n_chars"]}


def _proj_places(raw):
    import pyspark.sql.functions as F
    from overturemaps_duckdb_spark.functions.geo import st_point

    return raw.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("id"),
        F.col("c_name").alias("display_name"),
        F.concat_ws(" ", "c_name", "c_mktsegment").alias("search_name"),
        st_point("lon", "lat").alias("geometry"),
        F.lit("POINT").alias("geom_type"),
        F.col("lon").alias("centroid_lon"),
        F.col("lat").alias("centroid_lat"),
        F.col("c_mktsegment").alias("_f0"),
        F.col("c_nationkey").cast("string").alias("_f1"),
    )


def _proj_docs(raw):
    import pyspark.sql.functions as F
    from overturemaps_duckdb_spark.functions.geo import st_point

    return raw.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("id"),
        F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias("display_name"),
        F.col("text").alias("search_name"),
        st_point("lon", "lat").alias("geometry"),
        F.lit("POINT").alias("geom_type"),
        F.col("lon").alias("centroid_lon"),
        F.col("lat").alias("centroid_lat"),
        F.col("lang").alias("_f0"),
        F.col("n_chars").cast("string").alias("_f1"),
    )


PROJ = {"places": _proj_places, "docs": _proj_docs}

Q1 = """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
  avg(l_discount) AS avg_disc, count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '{day}'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

Q3 = """SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = '{segment}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < DATE '{day}' AND l_shipdate > DATE '{day}'
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""

QTHEME = """SELECT _f0 AS segment, count(*) AS n, avg(centroid_lat) AS avg_lat
FROM theme_places WHERE centroid_lon BETWEEN {lo} AND {hi}
GROUP BY _f0 ORDER BY segment"""


class Explore:
    name = "explore"

    def __init__(self, spark, *, seed: int, scale: float):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.rng = np.random.default_rng(seed + 7919)
        self.last = {}
        self.storms = 0
        self.misses = 0
        self.storm_runs = 0
        self.miss_stats: list[dict] = []

    # -- set-up ----------------------------------------------------------

    def prepare(self, root: str) -> None:
        """Generate and stage the inputs (once per run)."""
        self.inputs = gen.generate(os.path.join(root, "inputs"), self.seed, self.scale)
        self.root = root

    def build(self) -> None:
        """Set the workload up on a fresh state root: build the engine,
        register the area themes, read and cache the base themes and their
        FTS index, register the console views."""
        from overturemaps_duckdb_spark import engine as engine_mod
        from overturemaps_duckdb_spark.operators import fts
        from overturemaps_duckdb_spark.plans.pipeline import Node

        inp = self.inputs
        self.state_root = os.path.join(self.root, "state")
        eng = engine_mod.Engine(self.spark, self.state_root)
        for key in ("places", "docs"):
            files = inp.places_files if key == "places" else inp.docs_files
            eng.register_theme(key, engine_mod.ThemeSpec(
                AREA[key], files, projection=PROJ[key], build_fts=(key == "docs"),
            ))
        for key in ("places", "docs"):
            files = inp.places_files if key == "places" else inp.docs_files
            df = PROJ[key](self.spark.read.parquet(*files)).cache()
            df.count()
            df.createOrReplaceTempView(BASE[key])
            eng.catalog.tables[BASE[key]] = df
            eng.catalog.fields[key] = FIELDS[key]
        idx = fts.build_fts_index(eng.catalog.tables[BASE["docs"]], "id", "search_name").persist()
        idx.postings.count()
        eng.catalog.fts[BASE["docs"]] = idx
        for view, path in (("lineitem", inp.lineitem), ("orders", inp.orders), ("customer", inp.places)):
            self.spark.read.parquet(path).createOrReplaceTempView(view)
        runner = eng.pipeline
        runner.spark = self.spark
        runner.on_result = lambda out: self.last.__setitem__("storm", out)
        self.engine = eng
        self.nodes = {
            "places": Node("n1", "source", BASE["places"], "places"),
            "docs": Node("n2", "source", BASE["docs"], "docs"),
        }
        self.last_miss: dict[str, tuple] = {}
        self.held: dict[str, int] = {}
        self.prev_bbox = None

    def sequence(self) -> tuple[str, ...]:
        return ROUND

    def warmup(self) -> None:
        """One search and one within filter: the kinds whose first run
        after the set-up build costs most (FTS scoring with the GeoJSON
        output, the spatial band join).  The other kinds' first-use cost
        is small and stays in the timed round, as it does for a user who
        opens the map (perfbench/README.md gives the figures)."""
        for i, kind in enumerate(WARMUP):
            self.execute(OpRecord(-1 - i, *self.make_op(kind)))

    # -- op generation -----------------------------------------------------

    def ops(self):
        while True:
            for kind in ROUND:
                yield self.make_op(kind)

    def _terms(self) -> str:
        k = int(self.rng.integers(1, 4))
        words = self.rng.choice(gen.VOCAB[:-2], size=k, replace=False)
        return " ".join(words)

    def _viewport(self, cls: str):
        """A viewport of the class's size around a seeded document, with
        both themes non-empty inside it (an empty-viewport miss raises in
        the program, see README)."""
        hx, hy = EXTENT[cls]
        pts, docs = self.inputs.places_xy, self.inputs.docs_xy
        for _ in range(1000):
            c = docs[int(self.rng.integers(0, len(docs)))]
            cx = float(np.clip(c[0] + self.rng.uniform(-hx, hx) / 2, -179.9 + hx, 179.9 - hx))
            cy = float(np.clip(c[1] + self.rng.uniform(-hy, hy) / 2, -89.0 + hy, 89.0 - hy))
            bbox = (round(cx - hx, 4), round(cy - hy, 4), round(cx + hx, 4), round(cy + hy, 4))
            if _count(pts, bbox) and _count(docs, bbox):
                return bbox
        raise RuntimeError(f"no populated {cls} viewport")

    def _bbox(self):
        """No viewport filter, or pl3's, half the time each (assumed)."""
        return PL3_BBOX if self.rng.random() < 0.5 else None

    def make_op(self, kind: str) -> tuple[str, dict]:
        r = self.rng
        if kind == "search":
            return "search", {"terms": self._terms(), "limit": int(r.choice(SEARCH_LIMITS)),
                              "bbox": self._bbox()}
        if kind in ("within", "exclude"):
            # a distance slider around pl4/pl5's value, so no two runs of
            # the filter share the engine's cached matched-id set
            return "spatial", {"op": kind, "distance": round(WITHIN_M * float(r.uniform(0.5, 2.0)), 1),
                               "limit": int(r.choice(SPATIAL_LIMITS))}
        if kind == "storm":
            # 3-6 keystrokes inside the runner's debounce window (assumed)
            return "storm", {"k": int(r.integers(3, 7)), "limit": int(r.choice(UNION_LIMITS)),
                             "bbox": self._bbox()}
        if kind == "console":
            kind = CONSOLE[int(r.integers(0, len(CONSOLE)))]
        if kind == "console_q1":
            day = f"1998-{int(r.integers(6, 12)):02d}-{int(r.integers(1, 29)):02d}"
            return "console", {"q": "q1", "sql": Q1.format(day=day)}
        if kind == "console_q3":
            day = f"1995-{int(r.integers(1, 13)):02d}-{int(r.integers(1, 29)):02d}"
            seg = gen.SEGMENTS[int(r.integers(0, len(gen.SEGMENTS)))]
            return "console", {"q": "q3", "sql": Q3.format(day=day, segment=seg)}
        if kind == "console_theme":
            lo = int(r.integers(-180, 90))
            return "console", {"q": "theme", "sql": QTHEME.format(lo=lo, hi=lo + int(r.integers(30, 90)))}
        if kind == "load_zoom":
            prev = self.prev_bbox or self._viewport("region")
            w, h = prev[2] - prev[0], prev[3] - prev[1]
            f = float(r.uniform(0.2, 0.6))
            x0 = prev[0] + float(r.uniform(0, 1 - f)) * w
            y0 = prev[1] + float(r.uniform(0, 1 - f)) * h
            bbox = (round(x0, 4), round(y0, 4), round(x0 + f * w, 4), round(y0 + f * h, 4))
            bbox = (max(bbox[0], prev[0]), max(bbox[1], prev[1]), min(bbox[2], prev[2]), min(bbox[3], prev[3]))
            if not (_count(self.inputs.places_xy, bbox) and _count(self.inputs.docs_xy, bbox)):
                bbox = prev  # re-request the whole last viewport: still a hit
            return "load", {"cls": "zoom", "bbox": bbox}
        if kind.startswith("load_"):
            cls = kind.split("_", 1)[1]
            if cls == "miss":
                cls = MISS_CYCLE[(self.seed + self.misses) % len(MISS_CYCLE)]
                self.misses += 1
            bbox = self._viewport(cls)
            self.prev_bbox = bbox
            return "load", {"cls": cls, "bbox": bbox}
        raise ValueError(kind)

    # -- execution ---------------------------------------------------------

    def _pipeline_state(self, kind: str, p: dict):
        from overturemaps_duckdb_spark.plans.pipeline import Node

        if kind == "search":
            return {"nodes": [self.nodes["docs"]], "search": p["terms"], "limit": p["limit"], "bbox": p["bbox"]}
        if kind == "storm":
            return {"nodes": [self.nodes["places"], self.nodes["docs"]], "search": "",
                    "limit": p["limit"], "bbox": p["bbox"]}
        flt = Node("n3", "combine", BASE["docs"], "docs", p["op"], p["distance"])
        return {"nodes": [self.nodes["places"], flt], "search": "", "limit": p["limit"], "bbox": None}

    def execute(self, rec: OpRecord) -> None:
        kind, p = rec.kind, rec.params
        runner = self.engine.pipeline
        if kind in ("search", "spatial"):
            for k, v in self._pipeline_state(kind, p).items():
                setattr(runner, k, v)
            out = runner.run_now()
            ids = [row["id"] for row in out.rows]
            rec.digest = tuple(ids) if kind == "search" else id_digest(ids)
        elif kind == "storm":
            state = self._pipeline_state(kind, p)
            before = runner.run_count
            for i in range(p["k"]):
                # each keystroke nudges the limit; the last one wins
                runner.update(**{**state, "limit": state["limit"] + p["k"] - 1 - i})
            runner.flush()
            self.storms += 1
            self.storm_runs += runner.run_count - before
            rec.digest = id_digest([row["id"] for row in self.last["storm"].rows])
        elif kind == "console":
            rows = self.engine.sql(p["sql"]).collect()
            rec.digest = [tuple(r) for r in rows]
        elif kind == "load":
            res = self.engine.load_area(["places", "docs"], p["bbox"])
            rec.digest = {k: (r.rows, r.cached) for k, r in res.items()}
            cached = all(r.cached for r in res.values())
            rec.extra = {
                "cached": cached,
                "files_total": sum(r.files_total for r in res.values()),
                "files_scanned": sum(r.files_scanned for r in res.values()),
                "batches": sum(r.batches for r in res.values()),
                "rows": sum(r.rows for r in res.values()),
            }
            # the check's expectation, tracked independently of the program
            rec.extra["expect_cached"] = {
                k: (k in self.last_miss and _contains(self.last_miss[k], p["bbox"]))
                for k in res
            }
            for k, r in res.items():
                if not r.cached:
                    self.last_miss[k] = p["bbox"]
        else:
            raise ValueError(kind)

    def after_op(self, rec: OpRecord) -> float:
        """Counters taken outside the op's latency: files the miss wrote to
        the grid layout, and the state root's bytes per row it holds.
        Returns the seconds it took."""
        if rec.kind != "load" or not rec.ok or rec.extra["cached"]:
            return 0.0
        t = time.perf_counter()
        for k, (rows, cached) in rec.digest.items():
            if not cached:
                self.held[k] = rows
        layout = os.path.join(self.state_root, "snapviews", "_layout")
        self.miss_stats.append({
            "layout_files": sum(dir_stats(os.path.join(layout, t))[0] for t in AREA.values()),
            "bytes": dir_stats(self.state_root)[1],
            "rows_held": sum(self.held.values()),
        })
        return time.perf_counter() - t

    # -- checks --------------------------------------------------------------

    def check(self, records: list[OpRecord]) -> list[str]:
        from checks import ExploreOracle

        oracle = ExploreOracle(self.inputs)
        try:
            return oracle.check_all(records)
        finally:
            oracle.close()

    # -- metrics ---------------------------------------------------------------

    def stored_bytes_per_row(self) -> float:
        from common import median

        vals = [m["bytes"] / m["rows_held"] for m in self.miss_stats if m["rows_held"]]
        return median(vals)


def _count(xy: np.ndarray, bbox) -> int:
    x0, y0, x1, y1 = bbox
    return int(np.count_nonzero(
        (xy[:, 0] >= x0) & (xy[:, 0] <= x1) & (xy[:, 1] >= y0) & (xy[:, 1] <= y1)))


def _contains(outer, inner) -> bool:
    return (outer[0] <= inner[0] and outer[1] <= inner[1]
            and outer[2] >= inner[2] and outer[3] >= inner[3])

