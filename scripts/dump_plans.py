#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the graded core.

``python scripts/dump_plans.py`` rewrites the whole file;
``python scripts/dump_plans.py NAME ...`` regenerates only those
sections in place, appending a section the file does not have yet."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapshaper_spark import queries as Q  # noqa: E402
from mapshaper_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

NAMES = (
    "pip_count_salted",
    "pip_holes_rows",
    "knn_nearest_target",
    "asof_last_purchase_before_click",
    "minhash_signatures",
    "lsh_dup_candidates",
    "calc_pricing_summary",
    "images_phash_near_dup",
    "join_interpolate_area_weighted",
    "gh_boolean_holed_pairs",
    "classify_nice_breaks",
    "polygons_from_lines_grid",
    "topojson_tiled_counts",
    "topojson_tiled_import_stats",
    "dissolve2_rings_tiled",
    "mosaic_rings_tiled",
    "clean_rings_tiled",
    "clean_gap_fill",
    "buffer_polygons_dissolved",
    "cluster_kmeans_stats",
    "fuzzy_join_radius",
    "divide_polylines_lengths",
    "dashlines_intervals",
    "doc_repetition_ngrams",
    "stitch_antimeridian",
    "pii_scrub_redaction",
    "topojson_quantized_stats",
    "points_midpoints",
    "points_interpolated",
    "source_quality_gate",
    "paragraph_dedup_refinedweb",
    "decontaminate_eval_overlap",
    "seqpack_offsets",
    "data_mixing_sample",
    "quality_classifier_score",
    "importance_weights_hashed",
    "bpe_pair_counts",
    "semdedup_kernel_scan",
    "exact_substring_spans",
    "lm_familiarity_buckets",
    "bpe_apply_merges",
    "tfidf_top_terms",
    "url_dedup_canonical",
    "pip_attribute_rows",
)


def main(names: tuple[str, ...] = NAMES) -> None:
    """Dump every plan in NAMES, or only ``names`` into the existing file."""
    unknown = set(names) - set(NAMES)
    if unknown:
        raise SystemExit(f"not in NAMES: {sorted(unknown)}")
    spark = get_spark("plans", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    out = [
        f"# PLANS — physical plans of the graded core (sf0.01, local[{DEFAULT_CPUS}])",
        "",
        "Generated with `.explain('formatted')`; regenerate with",
        "`python scripts/dump_plans.py`. What to check: PushedFilters +",
        "pruned ReadSchema on every parquet scan, BroadcastHashJoin for",
        "dim joins, ShuffledHashJoin on (cell_id, _salt) only in the",
        "salted path, no Exchange between map stages. The ring-emitter",
        "queries (dissolve2/mosaic/clean_rings_tiled) return an EAGER",
        "localCheckpoint (so degeneracy raises from every stage land",
        "inside the grid-retry loop), so their dumped plan is the final",
        "aggregate over the checkpointed RDD — the replicate/fold/pair/",
        "CC stages execute eagerly before the frame is returned and are",
        "visible in the per-stage plans of earlier rounds' dumps.",
        "The -points arc-length rows (midpoints/interpolated) read as",
        "bare LocalTableScan here: their fixture is a literal local",
        "relation, so Catalyst constant-folds the ENTIRE zero-exchange",
        "fold at optimization time — the distributed shape is exhibited",
        "by scripts/points_scale_probe.py over a 1M-arc range instead.",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    sections = {}
    for name in names:
        df = Q.QUERIES[name](spark, sf)
        sections[name] = f"\n## {name}\n\n```\n{df._jdf.queryExecution().explainString(mode)}\n```"
    spark.stop()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PLANS.md")
    if names != NAMES:
        # splice the named sections into the existing file, keep the
        # rest; a section the file lacks goes at the end
        with open(path) as f:
            text = f.read()
        for name, sec in sections.items():
            head = f"\n## {name}\n"
            start = text.find(head)
            if start < 0:
                text = text.rstrip("\n") + "\n" + sec + "\n"
                continue
            end = text.find("\n## ", start + len(head))
            text = text[:start] + sec + "\n" + (text[end:] if end >= 0 else "")
        with open(path, "w") as f:
            f.write(text)
        return
    with open(path, "w") as f:
        f.write("\n".join(out + list(sections.values())) + "\n")


if __name__ == "__main__":
    main(tuple(sys.argv[1:]) or NAMES)
