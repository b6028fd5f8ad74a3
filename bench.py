#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

  {"metric": ..., "value": sec, "unit": "sec", "queries": {...},
   "sf": ..., "images_per_sec": ..., "n_images": ..., "cpus": ...}

The headline metric is the end-to-end spatial-join + tile-assignment
pipeline over the synthetic images table [BASELINE.json metric]:
parquet scan (column-pruned: bytes stay on disk) → cell assignment →
two-phase PIP attribution → tile assignment → count per (polygon, tile).

Scaling evidence (local[8] vs local[32]) is produced by scaling_bench.py
→ BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from mapshaper_spark import cells, fixtures, queries as Q  # noqa: E402
from mapshaper_spark.operators import spatial_join as sj  # noqa: E402
from mapshaper_spark.session import get_spark  # noqa: E402
from mapshaper_spark.sources import testdata  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "200000"))
IMAGES_PATH = os.environ.get(
    "SPARK_GRAFT_IMAGES_PATH", f"/tmp/mapshaper_spark_images_{N_IMAGES}"
)

# per-query bench subset: the graded operator families
BENCH_QUERIES = [
    "pip_count_by_polygon",
    "pip_attribute_rows",
    "clip_points",
    "knn_nearest_target",
    "knn3_nearest_targets",
    "tile_assign_counts",
    "dissolve_grid",
    "calc_pricing_summary",
    "join_attr_region",
    "topk_orders_per_customer",
    "events_tumbling_window",
    "events_sessionize",
    "minhash_signatures",
    "lsh_dup_candidates",
    "ann_cosine_topk",
    "ann_ivf_bucketed_topk",
    "dedup_exact",
    "text_quality",
    "pip_count_salted",
    "raster_tile_pixel_counts",
    "simplify_visvalingam_counts",
    "simhash16_docs",
    "jaccard_ngram_pairs",
    "subdivide_hot_cells",
    "images_meta_cells",
    "images_phash_near_dup",
    "asof_last_purchase_before_click",
    "window_rolling_sum",
    "embedding_near_dup_pairs",
    "overlay_pairs_nonempty",
    # round-2 additions
    "pip_holes_rows",
    "join_interpolate_area_weighted",
    "dissolve_sum_fields",
    "clip_general_area_windows",
    "calc_mode_collect",
    "tile_assign_webmercator",
    "gh_boolean_pair_areas",
    "gh_boolean_holed_pairs",
    "clip_concave_pairs_area",
    "union_pair_areas_boxes",
    "simplify_crossings_detected",
    "geojson_roundtrip_stats",
    "dissolve2_overlap_groups",
    "inlay_carved_areas",
    "classify_nice_breaks",
    "token_bpe_regex",
    "audio_window_features",
    "video_frame_stats",
    # round-3 additions
    "polygons_from_lines_grid",
    "mosaic_faces_overlap_layer",
    "clean_overlap_assignment",
    "events_sliding_window",
    "graticule_lines",
    "shape_coordinates",
    "topojson_tiled_counts",
    "topojson_tiled_import_stats",
    # round-4 additions: distributed ring-geometry emitters + dedup
    # cluster resolution (fixture-scale cost is multi-job orchestration,
    # not data volume — same profile as polygons_from_lines_grid)
    "dissolve2_rings_tiled",
    "mosaic_rings_tiled",
    "clean_rings_tiled",
    "dedup_cluster_resolution",
    # round-5 addition: -clean gap fill (union holes -> longest shared
    # border crediting, JVM column math after the per-key fold)
    "clean_gap_fill",
    # late-r5 addition: -buffer (polygon variant — the whole triple's
    # shared quad builder + robust union fold + sealed cavity hole)
    "buffer_polygons_dissolved",
    # final-r5 addition: -cluster (k-means over the skewed point layer —
    # join-free codegen assignment + decimal-routed centroid update)
    "cluster_kmeans_stats",
    # continuation additions: -fuzzy-join (PIP + radius fallback over
    # the customer points — the data-scaled new op; -divide/-dashlines
    # are dim-fixture-bound and stay out), and the Gopher repetition
    # filter over documents (map-only n-gram math + one shuffled top-
    # bigram aggregation)
    "fuzzy_join_radius",
    "doc_repetition_ngrams",
    # continuation: PII scrubbing (map-only regex redaction over
    # documents — data-scaled; -stitch and the quantized TopoJSON
    # round-trip are dim-fixture-bound and stay out, same rule as
    # -divide/-dashlines)
    "pii_scrub_redaction",
    # continuation part 5: corpus-level paragraph dedup (content-
    # partitioned window + idx-sorted document reassembly — data-scaled
    # over documents)
    "paragraph_dedup_refinedweb",
    # continuation part 7: DSIR-style importance weighting (two corpus
    # passes: a 256-bucket wordcount shuffle + a broadcast-map scoring
    # scan), tokenizer-training pair counts (wordcount-shaped), and
    # SemDeDup (cluster-scoped semantic dedup over the 2000-vector
    # embeddings table at sf0.1 — the per-cluster Gram kernel is the
    # measured stage)
    "importance_weights_hashed",
    "bpe_pair_counts",
    "semdedup_kernel_scan",
    # continuation part 8: ExactSubstr span dedup (positioned-gram
    # occurrence counts + per-doc interval-merge windows — data-scaled
    # over documents) and the CCNet familiarity tiers (reference-split
    # bigram model broadcast to the corpus scan)
    "exact_substring_spans",
    "lm_familiarity_buckets",
    # part 8 companions: BPE merge application (map-only replace
    # chain) and tf-idf keyword extraction (wordcount + broadcast df
    # join + per-doc ranking window)
    "bpe_apply_merges",
    "tfidf_top_terms",
    "url_dedup_canonical",
]


def ensure_images(spark, n: int, path: str) -> None:
    """Materialize the synthetic images table once (cached across runs) —
    the pipeline under measurement reads parquet, as production would."""
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return
    fixtures.images_df(spark, n, partitions=max(CPUS * 2, 16)).write.mode(
        "overwrite"
    ).parquet(path)


def flagship(spark, images_path: str):
    """images parquet → cell → PIP attribute → tile counts."""
    imgs = spark.read.parquet(images_path).select("image_id", "lon", "lat")
    pts = imgs.withColumnRenamed("image_id", "point_id")
    idx = sj.build_cell_index(spark, testdata.polygons(spark))
    hits = sj.pip_attribute(pts, idx)
    tx, ty = cells.tile_sql("lon", "lat", 4)
    return (
        hits.withColumn("tile_x", F.expr(tx))
        .withColumn("tile_y", F.expr(ty))
        .groupBy("poly_id", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def main() -> None:
    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=max(CPUS, 8))
    ensure_images(spark, N_IMAGES, IMAGES_PATH)

    # headline: end-to-end spatial-join + tile-assignment over images.
    # The first run pays session warmup (Python worker fork, codegen,
    # broadcast init) — kept as the recorded metric for round-over-round
    # comparability; the warm rerun shows the steady-state pipeline cost
    # (what a long-running job actually pays per batch).
    t0 = time.perf_counter()
    n_out = flagship(spark, IMAGES_PATH).count()
    e2e = time.perf_counter() - t0
    t0 = time.perf_counter()
    flagship(spark, IMAGES_PATH).count()
    e2e_warm = time.perf_counter() - t0

    per_query: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = Q.QUERIES[name]
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        per_query[name] = round(time.perf_counter() - t0, 3)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "e2e_spatial_join_tile_assign_sec",
                "value": round(e2e, 3),
                "unit": "sec",
                "queries": per_query,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "images_per_sec": round(N_IMAGES / e2e, 1),
                "value_warm": round(e2e_warm, 3),
                "images_per_sec_warm": round(N_IMAGES / e2e_warm, 1),
                "n_images": N_IMAGES,
                "n_output_tiles": n_out,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
