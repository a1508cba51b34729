"""Isolation probes of the traced run: each times one public call of one
package layer on an input materialized before the clock starts.

Spark-side probes time the call through a noop sink over a
`localCheckpoint`-ed input; driver-side probes time the numpy or
pure-Python call itself. Spark-side probes time one call (the traced run
must end within the benchmark's per-run limit even on a contended host);
the sub-second driver-side ones report the median of three.
"""

from __future__ import annotations

import os
import time

import numpy as np

import engine

REPS = 1
DRIVER_REPS = 3
PROBE_POINTS = 100_000
INDEX_POINTS = 100_000


def _timed(fn, reps: int = REPS) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return engine.median(ts)


def _sink(make_df):
    return lambda: engine.noop(make_df())


def sources_probes(spark, inputs: dict) -> dict:
    import pyarrow.parquet as pq

    from osm2mp_spark.sources.images import decode, generate_phash_corpus_df

    images = inputs["probe_images"]
    table = pq.read_table(images, columns=["bytes", "fmt"]).to_pylist()

    def decode_all():
        for r in table:
            decode(r["bytes"], r["fmt"])

    n = inputs["probe_corpus_originals"]
    return {
        "sources.read_s": _timed(_sink(lambda: spark.read.parquet(images))),
        "sources.decode_ms": _timed(decode_all, DRIVER_REPS) / len(table)
        * 1e3,
        "sources.generate_s": _timed(
            _sink(lambda: generate_phash_corpus_df(spark, n))),
    }


def spatial_probes(spark) -> dict:
    from osm2mp_spark.operators.tiles import build_bsp_tiles_spark
    from osm2mp_spark.sources.layers import (
        city_polygons, country_polygons, region_polygons)
    from osm2mp_spark.sources.points import with_derived_position
    from osm2mp_spark.spatial.index import PolygonIndex

    def build_indexes():
        for layer in (city_polygons, region_polygons, country_polygons):
            PolygonIndex(layer())

    # the flagship's tile model: the BSP over a fixed 200k-key sample
    sample = with_derived_position(
        spark.range(1, 200_001).selectExpr("id * 10 AS point_id"), "point_id"
    ).localCheckpoint(eager=True)
    return {
        "spatial.index_build_s": _timed(build_indexes),
        "spatial.bsp_build_s": _timed(
            lambda: build_bsp_tiles_spark(sample, max_tile_nodes=4000)),
    }


def geometry_probes() -> dict:
    from osm2mp_spark.plans.flagship import _city_index_cached
    from osm2mp_spark.sources.points import derived_points_np

    lon, lat = derived_points_np(np.arange(INDEX_POINTS, dtype=np.int64) * 7)
    idx = _city_index_cached()
    s = _timed(lambda: idx.find_smallest_containing(lon, lat), DRIVER_REPS)
    return {"geometry.pip_us": s / INDEX_POINTS * 1e6}


def operator_probes(spark, inputs: dict) -> dict:
    from pyspark.sql import functions as F

    from osm2mp_spark.operators.chains import min_label_components
    from osm2mp_spark.operators.clip import clip_chains_to_bbox
    from osm2mp_spark.operators.fused import pip_bsp_fused
    from osm2mp_spark.operators.images import (
        dhash_wide_images, wide_band_explode, wide_hamming_pairs)
    from osm2mp_spark.operators.knn import knn_bruteforce
    from osm2mp_spark.operators.pip_join import pip_resolve
    from osm2mp_spark.operators.tiles import (
        assign_tiles_grid, chain_tile_closure)
    from osm2mp_spark.plans.flagship import (
        _bsp_tree_cached, _city_index_cached, flagship_assign)
    from osm2mp_spark.plans.images_flagship import flagship_images
    from osm2mp_spark.queries.images_q import _img_key
    from osm2mp_spark.queries.spatial import _CLIP_BBOX, lineitem_chain_points
    from osm2mp_spark.sources.layers import CITIES
    from osm2mp_spark.sources.points import with_derived_position

    idx = _city_index_cached()
    tree = _bsp_tree_cached(spark)
    anchors = [(c["area_id"], c["center"][0], c["center"][1]) for c in CITIES]
    pts = with_derived_position(
        spark.range(0, PROBE_POINTS).selectExpr("id * 13 AS point_id"),
        "point_id").localCheckpoint(eager=True)
    chains = lineitem_chain_points(
        spark, inputs["probe_geo_dir"]).localCheckpoint(eager=True)
    corpus = spark.read.parquet(inputs["probe_corpus"]).localCheckpoint(
        eager=True)
    sigs = dhash_wide_images(corpus).localCheckpoint(eager=True)
    pairs = wide_hamming_pairs(sigs, 7).localCheckpoint(eager=True)
    edges = pairs.selectExpr(f"{_img_key('id_a')} AS ka",
                             f"{_img_key('id_b')} AS kb").localCheckpoint(
        eager=True)
    e = wide_band_explode(sigs)
    cand = (e.select(F.col("image_id").alias("id_a"), "band", "key")
            .join(e.select(F.col("image_id").alias("id_b"), "band", "key"),
                  ["band", "key"])
            .filter("id_a < id_b").select("id_a", "id_b").distinct().count())
    n_pairs = pairs.count()
    return {
        "operators.pip_resolve_s": _timed(_sink(lambda: pip_resolve(
            pts, idx, area_col="city", keep_unmatched=True))),
        "operators.pip_bsp_fused_s": _timed(_sink(
            lambda: pip_bsp_fused(pts, idx, tree, area_col="city"))),
        "operators.knn_s": _timed(_sink(
            lambda: knn_bruteforce(pts, anchors, out_id="nn"))),
        "operators.clip_chains_s": _timed(_sink(
            lambda: clip_chains_to_bbox(chains, _CLIP_BBOX))),
        "operators.chain_tile_closure_s": _timed(_sink(
            lambda: chain_tile_closure(assign_tiles_grid(chains)))),
        "operators.dhash_wide_s": _timed(_sink(
            lambda: dhash_wide_images(corpus))),
        "operators.hamming_pairs_s": _timed(_sink(
            lambda: wide_hamming_pairs(sigs, 7))),
        "operators.hamming_candidates": float(cand),
        "operators.hamming_pairs": float(n_pairs),
        "operators.hamming_pair_ratio": n_pairs / max(1, cand),
        "operators.components_s": _timed(_sink(
            lambda: min_label_components(edges, src="ka", dst="kb"))),
        "operators.components_edges": float(n_pairs),
        "plans.flagship_images_s": _timed(_sink(
            lambda: flagship_images(spark, inputs["probe_images"]))),
        "plans.flagship_assign_s": _timed(_sink(
            lambda: flagship_assign(pts))),
    }


def query_probe(run, spark, name: str, fn, sf_dir: str) -> dict:
    """queries.<name>.build_s / run_s: one builder call and its noop-sink
    run, counted as an operation."""
    def one():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        engine.noop(df)
        return t1 - t0, time.perf_counter() - t1

    r = run.op(f"{name} (probe)", one)
    if r is None:
        raise RuntimeError(f"the {name} probe failed")
    return {f"queries.{name}.build_s": r[0], f"queries.{name}.run_s": r[1]}


def run_all(run, spark, progress: list, ingest: bool) -> dict:
    """Every probe, with each group's seconds in the report. streaming.*
    comes from the ingest workload's own measured streams, or, for the geo
    workload, from a two-file probe stream."""
    import workloads
    from osm2mp_spark import queries
    from osm2mp_spark.streaming.dedup import read_batch_metrics

    inputs = run.inputs
    out = {}
    spent = run.report.setdefault("probe_group_s", {})
    groups = [
        ("sources", lambda: sources_probes(spark, inputs)),
        ("spatial", lambda: spatial_probes(spark)),
        ("geometry", geometry_probes),
        ("operators", lambda: operator_probes(spark, inputs)),
        ("queries", lambda: query_probe(
            run, spark, "flagship_dedup", queries.QUERIES["flagship_dedup"],
            inputs["probe_dedup_dir"])),
    ]
    for name, fn in groups:
        t0 = time.perf_counter()
        out.update(fn())
        spent[name] = time.perf_counter() - t0
    if ingest:
        streams = run.report["streams"]
    else:
        st = workloads.Stream(run, spark, progress, inputs["probe_landing"],
                              os.path.join(run.work, "streams", "probe"),
                              warm=workloads.PROBE_WARM_BATCHES)
        res = run.op("probe stream", st.go)
        if res is None:
            raise RuntimeError("the probe stream failed")
        streams = [res]
    out.update(workloads.streaming_layer(spark, streams, read_batch_metrics))
    return out
