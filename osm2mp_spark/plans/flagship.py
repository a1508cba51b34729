"""Flagship pipeline — the minimum end-to-end slice (SURVEY §7.1.3):

    points → JVM cell-encode → broadcast PIP join (city, holes, canonical
    overlap rule) → kNN nearest-city fallback for uncontained points →
    BSP tile assignment → per-tile stats

This exercises scan, whole-stage-codegen cell encode, broadcast hash join,
Arrow refine UDF, broadcast KD/min_by kNN, broadcast BSP descent, and one
aggregation — the full skeleton of the 100 TB job. The only wide shuffles
are the smallest-wins aggregation and the final per-tile count, both
map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.knn import knn_bruteforce
from ..operators.tiles import (
    assign_tiles_bsp,
    assign_tiles_grid,
    build_bsp_tiles_spark,
)
from ..sources.layers import CITIES, city_polygons
from ..sources.points import with_derived_position
from ..spatial.index import PolygonIndex


from functools import lru_cache

_TREE_CACHE: dict = {}


@lru_cache(maxsize=1)
def _city_index_cached() -> PolygonIndex:
    return PolygonIndex(city_polygons())


def _bsp_tree_cached(spark):
    """BSP over the Spark-computed A4 histogram of a fixed 200k-key sample
    of the position generator (the tile MODEL — like the reference
    splitter, the tree is built once from a density pass, then reused).
    Cached per process — rebuilding it per job call would put a constant
    cost inside every throughput measurement. No raw points touch the
    driver: Spark aggregates cells, the driver sees O(cells)."""
    key = "flagship_model_tree"
    if key not in _TREE_CACHE:
        sample = with_derived_position(
            spark.range(1, 200_001).selectExpr("id * 10 AS point_id"),
            "point_id",
        )
        _TREE_CACHE[key] = build_bsp_tiles_spark(sample, max_tile_nodes=4000)
    return _TREE_CACHE[key]


def flagship_assign(pts: DataFrame) -> DataFrame:
    """Per-point flagship assignment over any (point_id, lon, lat, ...)
    frame: smallest-wins PIP city containment (shuffle-free Arrow resolve)
    with expression-kNN nearest-city fallback, plus broadcast BSP tile
    descent — all carried columns flow through; adds (city_id, tile_id).
    Zero shuffles."""
    from ..operators.fused import pip_bsp_fused

    idx = _city_index_cached()
    # ONE Arrow pass does PIP smallest-wins + BSP tile descent (operator
    # fusion at the UDF level — halves Python round-trips vs two stages);
    # the kNN fallback is a pure JVM expression coalesced on top.
    both = pip_bsp_fused(
        pts, idx, _bsp_tree_cached(pts.sparkSession), area_col="__pip_city"
    )
    anchors = [(c["area_id"], c["center"][0], c["center"][1]) for c in CITIES]
    with_nn = knn_bruteforce(both, anchors, out_id="__nn_city").drop("dist_sq")
    return with_nn.withColumn(
        "city_id", F.coalesce("__pip_city", "__nn_city")
    ).drop("__pip_city", "__nn_city")


def flagship_points(pts: DataFrame) -> DataFrame:
    """flagship_assign + per-(city, tile) counts. The only shuffle in the
    whole plan is the final count."""
    return flagship_assign(pts).groupBy("city_id", "tile_id").count()


def flagship_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-scale flagship: lineitem-derived points (~600k at sf0.1)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "(CAST(l_orderkey AS BIGINT) * 10 + l_linenumber) AS point_id"
    )
    return flagship_points(with_derived_position(li, "point_id"))


def flagship(
    spark: SparkSession,
    sf_dir: str,
    use_bsp: bool = True,
    max_tile_nodes: int | None = None,
) -> DataFrame:
    """Run the flagship over customer-derived points of `sf_dir`.

    Returns one row per point: (point_id, lon, lat, city_id, is_fallback,
    tile_id). city_id is the containing city (smallest-wins) or the kNN
    nearest city for uncontained points (is_fallback = true).
    """
    from ..operators.pip_join import pip_resolve

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("bigint").alias("point_id")
    )
    pts = with_derived_position(cust, "point_id")

    # containment + fallback on the SAME row: one zero-shuffle Arrow
    # resolve, expression kNN, coalesce — no join anywhere before the sink
    resolved = pip_resolve(
        pts, _city_index_cached(), area_col="__pip_city", keep_unmatched=True
    )
    anchors = [(c["area_id"], c["center"][0], c["center"][1]) for c in CITIES]
    with_nn = knn_bruteforce(resolved, anchors, out_id="__nn_city").drop("dist_sq")
    unioned = (
        with_nn.withColumn("is_fallback", F.col("__pip_city").isNull())
        .withColumn("city_id", F.coalesce("__pip_city", "__nn_city"))
        .drop("__pip_city", "__nn_city")
    )

    if use_bsp:
        # BSP from the SPARK density histogram (A4) — the driver sees only
        # O(occupied cells), never the points (_old/splitter.pl:104-143)
        tree = build_bsp_tiles_spark(
            pts, max_tile_nodes=max_tile_nodes, nodes_per_tile_frac=64
        )
        return assign_tiles_bsp(unioned, tree)
    return assign_tiles_grid(unioned)
