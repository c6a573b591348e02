"""Theme ingest orchestration — EP1 (`loadArea` → `loadTheme`).

Rebuilds `/root/reference/src/lib/themes.js:204-410` Spark-first:

reference step                              → here
----------------------------------------------------------------------
cache check via bboxContains (themes.js:212)  → snapview superset-bbox reuse
IndexedDB parquet restore (themes.js:237-263) → SnapviewStore.load
worker /files bbox pruning (themes.js:267)    → manifest.prune_files
schema probe DESCRIBE (themes.js:294-297)     → spark.read.parquet().schema
buildCacheSelect projection (query.js:10-45)  → cache_select()
batched CTAS/INSERT w/ budget (themes.js:300) → per-batch append w/ budget
RTREE/FTS index build (themes.js:351-356)     → FTS index DataFrames
COPY TO parquet + IndexedDB (themes.js:362)   → SnapviewStore.save
_load_history insert (themes.js:391)          → append_load_history

The batched budget loop is kept *deliberately*: on a cluster it bounds each
job's input (3 files/batch, themes.js:287) so a cancel/viewport-change
aborts cheaply — same reason the browser app does it.  The load budget is
enforced per batch with a shrinking remaining-limit, exactly like
themes.js:301-330.

The ingest projection (cache_select) reproduces query.js:10-45 semantics
against whatever columns exist: COALESCE display-name fallback chain,
search_name concat excluding noise labels, centroid precompute, `_fN`
varchar padding.  Geometry here is synthesized WKB (fixtures have no raw
geometry); on real Overture data the same code passes the parquet geometry
column through untouched (late materialization, query.js:7-9).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from overturemaps_duckdb_spark.operators._util import materialize
from overturemaps_duckdb_spark.sources.manifest import build_manifest, prune_files
from overturemaps_duckdb_spark.state import SnapviewStore, append_load_history

#: files per CTAS/INSERT batch (themes.js:287)
BATCH_SIZE = 3

#: per-theme ingest row cap (themes.js:97)
DEFAULT_THEME_LIMIT = 33_000

#: field labels excluded from search_name (query.js:50-59 EXCLUDE_LABELS):
#: numeric/noise fields that would pollute FTS
EXCLUDE_LABELS = {"confidence", "height", "min_zoom", "num_floors", "n_chars"}


@dataclass
class ThemeFieldSpec:
    """One `_fN` projection: label + SQL expression (constants.js:14-120)."""

    label: str
    expr: str
    searchable: bool = True


@dataclass
class LoadResult:
    table: str
    rows: int
    files_total: int
    files_scanned: int
    batches: int
    cached: bool
    load_time_ms: float
    df: DataFrame = field(repr=False, default=None)
    #: where the grid-partitioned materialization landed (None = in-memory)
    layout_path: str | None = None


def cache_select(
    df: DataFrame,
    *,
    name_exprs: list[str],
    fields: list[ThemeFieldSpec],
) -> DataFrame:
    """The ingest projection (buildCacheSelect, query.js:10-45), applied to
    whichever columns exist in the probed schema:

    - display_name: COALESCE(CAST(first-existing-name AS STRING), '')
      fallback chain (query.js:11-13)
    - search_name: CONCAT_WS(' ', name, searchable fields) with noise labels
      excluded (query.js:23-33, 50-59)
    - `_fN`: CAST(expr AS STRING) (query.js:19-27)
    """
    def resolves(expr: str) -> bool:
        # the probe the reference does against the DESCRIBEd column set
        # (query.js:10-45 `parquetCols.has`), done exactly: ask the analyzer
        try:
            df.select(F.expr(expr))
            return True
        except Exception:
            return False

    present = [e for e in name_exprs if resolves(e)]
    if present:
        display = F.coalesce(
            *[F.expr(e).cast("string") for e in present], F.lit("")
        )
    else:
        display = F.lit("")
    search_parts = [display]
    out_fields = []
    for i, spec in enumerate(fields):
        if not resolves(spec.expr):
            fcol = F.lit(None).cast("string")
        else:
            fcol = F.expr(spec.expr).cast("string")
        out_fields.append(fcol.alias(f"_f{i}"))
        if spec.searchable and spec.label not in EXCLUDE_LABELS:
            search_parts.append(fcol)
    return df.select(
        F.col("id").cast("string").alias("id"),
        display.alias("display_name"),
        F.concat_ws(" ", *search_parts).alias("search_name"),
        *out_fields,
    )


def load_theme(
    spark: SparkSession,
    *,
    table: str,
    files: list[str],
    bbox: tuple[float, float, float, float],
    projection,
    store: SnapviewStore | None = None,
    state_root: str | None = None,
    limit: int = DEFAULT_THEME_LIMIT,
    batch_size: int = BATCH_SIZE,
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
    layout_root: str | None = None,
    layout_cell_deg: float = 5.0,
) -> LoadResult:
    """The EP1 pipeline for one theme: prune files by bbox → batched,
    budgeted ingest → grid-partitioned materialization → register temp view
    → snapview persist → history log.

    `projection` maps a raw batch DataFrame → cached-schema DataFrame (use
    :func:`cache_select` composed with geometry/centroid derivation).

    Materialization (the reference's optional RTREE, themes.js:351): when a
    store or an explicit `layout_root` is given, the ingested rows land
    grid-partitioned on `layout_cell_deg` cells (sources/layout.py) and the
    registered view READS BACK from that layout — every later bbox query
    gets plan-time partition pruning instead of a full scan.  With neither,
    the load stays in-memory (cache only), matching the reference with
    RTREE off."""
    t0 = time.monotonic()
    xmin, ymin, xmax, ymax = bbox

    # 1. snapview cache restore, including superset-bbox reuse: a cached
    #    load whose bbox CONTAINS the request serves it with a filter
    #    (bboxContains, themes.js:212 / map.js:35-38)
    if store is not None:
        cached = store.load(table)
        if cached is not None:
            meta = next((m for m in store.list() if m["id"] == table), {})
            cached_bbox = meta.get("bbox")
            contains = (
                cached_bbox is not None
                and cached_bbox[0] <= xmin and cached_bbox[1] <= ymin
                and cached_bbox[2] >= xmax and cached_bbox[3] >= ymax
            )
            if contains:
                clipped = cached.where(
                    (F.col(lon_col) >= xmin) & (F.col(lon_col) <= xmax)
                    & (F.col(lat_col) >= ymin) & (F.col(lat_col) <= ymax)
                )
                clipped.createOrReplaceTempView(table)
                n = clipped.count()
                elapsed = (time.monotonic() - t0) * 1e3
                if state_root is not None:
                    # the reference logs EVERY load with its cached flag
                    # (themes.js:391) — cache-served loads used to return
                    # before step 5 and silently vanish from the history
                    append_load_history(
                        state_root, key=table, bbox=str(list(bbox)),
                        lim=limit, cached=True, row_count=n,
                        file_count=0, load_time_ms=elapsed,
                    )
                return LoadResult(table, n, 0, 0, 0, True, elapsed, clipped)

    # 2. file-level pruning (themes.js:267-275 / worker/index.js:174-179)
    manifest = build_manifest(files)
    survivors = prune_files(manifest, bbox)

    # 3. batched ingest with shrinking budget (themes.js:287,300-330)
    loaded: DataFrame | None = None
    rows_so_far = 0
    batches = 0
    for i in range(0, len(survivors), batch_size):
        remaining = limit - rows_so_far
        if remaining <= 0:
            break
        batch_files = survivors[i : i + batch_size]
        raw = spark.read.parquet(*batch_files)
        projected = projection(raw)
        clipped = projected.where(
            (F.col(lon_col) >= xmin) & (F.col(lon_col) <= xmax)
            & (F.col(lat_col) >= ymin) & (F.col(lat_col) <= ymax)
        ).limit(remaining)
        # checkpoint at the budget count (eager=False: the count IS the
        # materializing job).  Without this every batch executed TWICE —
        # once for the count, again when the union fed the layout write —
        # and the re-executed unordered LIMIT could materialize a
        # DIFFERENT row subset than the one the budget counted.
        clipped = materialize(clipped, eager=False)
        batch_rows = clipped.count()
        loaded = clipped if loaded is None else loaded.unionByName(clipped)
        rows_so_far += batch_rows
        batches += 1

    if loaded is None:
        loaded = projection(spark.read.parquet(*files)).where(F.lit(False))

    # 4. grid-partitioned materialization — the RTREE analog (themes.js:351):
    #    the ingested rows land pre-binned by spatial cell and the registered
    #    view reads back from the layout, so every downstream bbox query is
    #    partition-pruned at plan time (s13 exercises exactly this artifact).
    layout_path = None
    root = layout_root if layout_root is not None else (
        store.root if store is not None else None
    )
    if root is not None and len(loaded.columns) > 0 and lon_col in loaded.columns:
        import os

        from overturemaps_duckdb_spark.sources.layout import (
            write_grid_partitioned,
        )

        layout_path = os.path.join(root, "_layout", table)
        write_grid_partitioned(
            loaded, layout_path, cell_deg=layout_cell_deg,
            lon_col=lon_col, lat_col=lat_col,
        )
        # read back with the loaded schema: a viewport holding no rows
        # writes no data file to infer one from
        loaded = (
            spark.read.schema(loaded.schema).parquet(layout_path).drop("cx", "cy")
        )
    loaded = loaded.cache()
    rows = loaded.count()
    loaded.createOrReplaceTempView(table)

    # 5. persistence + telemetry (themes.js:362,391)
    elapsed_ms = (time.monotonic() - t0) * 1e3
    if store is not None:
        store.save(table, loaded, {"bbox": list(bbox)})
    if state_root is not None:
        append_load_history(
            state_root, key=table, bbox=str(list(bbox)), lim=limit,
            cached=False, row_count=rows, file_count=len(survivors),
            load_time_ms=elapsed_ms,
        )
    return LoadResult(
        table, rows, len(files), len(survivors), batches, False, elapsed_ms,
        loaded, layout_path,
    )
