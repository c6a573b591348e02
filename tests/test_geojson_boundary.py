"""GeoJSON at the output boundary: the pipeline runner formats the collected
top-k rows on the driver, and that text must equal what `st_asgeojson`
produces inside a plan — the same fields, in the same order, byte for byte."""

from __future__ import annotations

import struct

import pyspark.sql.functions as F
import pytest

from overturemaps_duckdb_spark.functions import geo, wkb
from overturemaps_duckdb_spark.plans.pipeline import (
    Catalog,
    Node,
    compile_pipeline,
    with_geojson,
)
from overturemaps_duckdb_spark.plans.runner import PipelineRunner
from overturemaps_duckdb_spark.queries.pipeline import SRC_C, SRC_S, catalog_cs
from tests.conftest import SF_SMOKE

#: integer-valued, signed zero, negative, 17-significant-digit and tiny
#: coordinates — every branch of the integer/repr rule
COORDS = [
    (12.0, -0.0),
    (-0.0, 0.0),
    (-122.41941550000001, 37.774929499999999),
    (0.1 + 0.2, -1 / 3),
    (1e16, -7.0),
    (5e-324, -2.5e-8),
]


def _pt(x: float, y: float) -> bytes:
    return b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)


def _reference(geoms) -> list:
    return [None if b is None else wkb.as_geojson(wkb.loads(b)) for b in geoms]


def test_kernel_point_batch_matches_wkb(monkeypatch):
    """A batch of finite points is formatted from the packed doubles (the
    per-row kernel is never called) and equals wkb.as_geojson exactly,
    for bytes and for the bytearrays collect() returns."""
    geoms = [_pt(x, y) for x, y in COORDS]
    expected = _reference(geoms)
    assert expected[0] == '{"type":"Point","coordinates":[12,0]}'

    def boom(g):
        raise AssertionError("point batch fell back to the per-row kernel")

    monkeypatch.setattr(wkb, "as_geojson", boom)
    assert geo.geojson_strings(geoms) == expected
    assert geo.geojson_strings([bytearray(b) for b in geoms]) == expected


@pytest.mark.parametrize(
    "odd",
    [
        _pt(float("nan"), 1.0),
        _pt(float("inf"), 1.0),
        wkb.dumps(wkb.box(0.0, -0.0, 2.5, 3.0)),
        None,
    ],
    ids=["nan_point", "inf_point", "polygon", "null"],
)
def test_kernel_fallback_matches_wkb(odd):
    """A NaN/inf point, a polygon or a NULL takes the per-row kernel — alone
    or mixed into a point batch — and still equals wkb.as_geojson."""
    batch = [_pt(x, y) for x, y in COORDS] + [odd]
    assert geo.geojson_strings(batch) == _reference(batch)
    assert geo.geojson_strings([odd]) == _reference([odd])


def _odd_catalog(spark) -> Catalog:
    rows = [(f"p{i}", f"place {i}", x, y) for i, (x, y) in enumerate(COORDS)]
    df = spark.createDataFrame(rows, "id string, display_name string, lon double, lat double")
    theme = df.select(
        "id",
        "display_name",
        F.col("display_name").alias("search_name"),
        geo.st_point("lon", "lat").alias("geometry"),
        F.lit("POINT").alias("geom_type"),
        F.col("lon").alias("centroid_lon"),
        F.col("lat").alias("centroid_lat"),
        F.lit("x").alias("_f0"),
    )
    return Catalog(tables={"theme_odd": theme}, fields={"odd": ["f"]})


def _pipelines(spark):
    cs = catalog_cs(spark, SF_SMOKE)
    within = Node(id="w", type="combine", op="within", table="theme_supplier",
                  key="places/supplier", distance=6957.5)
    odd = Node(id="o", type="source", table="theme_odd", key="odd")
    return [
        (cs, [SRC_C, SRC_S], {"limit": 40}),
        (cs, [SRC_C, SRC_S], {"search": "machinery", "limit": 60}),
        (cs, [SRC_C, within], {"limit": 5000}),
        (_odd_catalog(spark), [odd], {"limit": 10}),
    ]


def test_runner_rows_equal_in_plan_geojson(spark):
    """RunOutcome.rows (driver-built geojson) equal `st_asgeojson` over the
    compiled frame row by row, with `geojson` in `geometry`'s slot."""
    for cat, nodes, state in _pipelines(spark):
        r = PipelineRunner(cat, debounce_s=0.01)
        r.nodes = nodes
        r.search = state.get("search", "")
        r.limit = state["limit"]
        got = r.run_now().rows
        want = with_geojson(
            compile_pipeline(cat, nodes, search=r.search, limit=r.limit)
        ).collect()
        assert got, nodes
        assert [list(x.__fields__) for x in got] == [x.__fields__ for x in want]
        assert got == want
        fields = got[0].__fields__
        assert "geometry" not in fields
        assert fields.index("geojson") == 3
