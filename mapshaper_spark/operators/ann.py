"""Approximate nearest neighbor over embeddings [task brief: similarity
search — brute-force baseline + scale path].

Three tiers in the engine:

1. brute force (queries.ann_cosine_topk) — exact, oracle-checked;
2. sign-bucket IVF (queries.ann_ivf_bucketed_topk) — deterministic
   coarse quantizer, exact integer scoring, oracle-checked;
3. THIS module: trained IVF — KMeans coarse quantizer (Spark ML), probe
   the ``n_probe`` nearest centroids per query, exact cosine rank within
   the probed cells. Recall/latency knob = (n_cells, n_probe); pytest
   measures recall against the brute-force truth.

At scale the inverted lists are written bucketed by ``ivf_cell`` so a
query touches only its probed buckets (same pruning story as the
spatial cell index — ANN is PIP with learned cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_COS = (
    "aggregate(zip_with(qe, te, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (s, v) -> s + v) / "
    "(sqrt(aggregate(transform(qe, x -> cast(x as double) * cast(x as double)), "
    "cast(0.0 as double), (s, v) -> s + v)) * "
    "sqrt(aggregate(transform(te, x -> cast(x as double) * cast(x as double)), "
    "cast(0.0 as double), (s, v) -> s + v)))"
)


def train_ivf(embeddings: DataFrame, n_cells: int = 4, seed: int = 42):
    """KMeans coarse quantizer over the embedding column.

    Returns (model, assigned) where assigned = embeddings + ``ivf_cell``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = embeddings.withColumn("features", array_to_vector("embedding"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(vec)
    assigned = (
        model.transform(vec)
        .withColumnRenamed("prediction", "ivf_cell")
        .drop("features")
    )
    return model, assigned


def ivf_topk(
    assigned: DataFrame,
    model,
    query_pred,
    target_pred,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probe the ``n_probe`` nearest centroids per query, exact cosine
    rank within probed cells: (qid, tid, sim, rank)."""
    import numpy as np

    centers = np.vstack([np.asarray(c) for c in model.clusterCenters()])

    q = assigned.filter(query_pred).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    # nearest n_probe centroids per query — centroid count is tiny, so
    # the distance table rides as a literal array expression
    probes = []
    for ci in range(len(centers)):
        lit_c = F.array(*[F.lit(float(v)) for v in centers[ci]])
        d = F.expr(
            "aggregate(zip_with(qe, _c, (x, y) -> "
            "(cast(x as double) - y) * (cast(x as double) - y)), "
            "cast(0.0 as double), (s, v) -> s + v)"
        )
        probes.append(
            q.withColumn("_c", lit_c)
            .withColumn("ivf_cell", F.lit(ci))
            .withColumn("_d", d)
            .drop("_c")
        )
    qp = probes[0]
    for p in probes[1:]:
        qp = qp.unionByName(p)
    w = Window.partitionBy("qid").orderBy("_d", "ivf_cell")
    qp = (
        qp.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .select("qid", "qe", "ivf_cell")
    )

    t = assigned.filter(target_pred).select(
        "ivf_cell", F.col("vec_id").alias("tid"), F.col("embedding").alias("te")
    )
    cand = qp.join(t, "ivf_cell").withColumn("sim", F.expr(_COS))
    wr = Window.partitionBy("qid").orderBy(F.desc("sim"), "tid")
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("qid", "tid", "sim", "rank")
    )


_SEMDEDUP_SCHEMA = (
    "vec_id bigint, cid bigint, n_dups_lower bigint, keep boolean"
)


def semdedup_kernel(
    vectors: DataFrame, num: int = 49, den: int = 400
) -> DataFrame:
    """Cluster-scoped SemDeDup pair scan as a numpy Gram kernel — the
    SCALE path for the pair stage [Abbas et al. 2023 "SemDeDup"
    (public): k-means the embeddings, compare pairs only within a
    cluster, keep one representative per near-dup group].

    Input: ``(vec_id bigint, cid bigint, qv array<bigint>)`` — already
    integer-quantized embeddings with a cluster assignment. Output one
    row per vector: ``(vec_id, cid, n_dups_lower, keep)`` where
    ``n_dups_lower`` counts LOWER-vec_id same-cluster vectors whose
    cosine passes ``dot > 0 AND dot²·den > num·‖a‖²‖b‖²`` (exact
    integers — cos > sqrt(num/den), default 0.35) and ``keep`` is
    ``n_dups_lower == 0`` (keep-first resolution).

    Semantically identical to the pairwise self-join form of the
    ``semdedup_kernel_scan`` oracle (pinned bitwise in pytest and in
    ``scripts/semdedup_scale_probe.py``), but the pair scan
    runs as ONE int64 Gram matmul per cluster (M @ M.T, exact) instead
    of materializing every pair row with both 64-element arrays
    through a join — measured 216 → see BENCH/semdedup_probe.json
    vectors/s at cluster_size 128. Clusters are size-bounded by
    construction (k ≈ N / target_cluster_size), so per-group state is
    KB-sized with a microsecond kernel: per the CLAUDE.md data-scaled
    tiny-group invariant the groups batch through collect_list +
    mapInPandas behind ``_fold_parallel``, never per-group
    applyInPandas. ``bytes`` never enters; the one shuffle keys on the
    cluster id (the IVF layout), exactly what SemDeDup prescribes at
    corpus scale.

    Exactness guard: every product stays inside int64 iff
    ``den·(d·m²)² < 2^63`` for d = dims and m = max|component| in the
    cluster; the kernel checks the bound per cluster (Python-int math)
    and raises loudly rather than overflow silently.
    """
    import numpy as np
    import pandas as pd

    from .overlay import _fold_parallel

    if not (0 < num < den):
        raise ValueError(f"need 0 < num < den, got {num}/{den}")

    def fold(batches):
        for pdf in batches:
            out_rows = []
            for cid, vs in zip(pdf["cid"], pdf["vs"]):
                ids = np.asarray([int(v["vec_id"]) for v in vs], dtype=np.int64)
                order = np.argsort(ids, kind="stable")
                ids = ids[order]
                M = np.asarray(
                    [vs[int(i)]["qv"] for i in order], dtype=np.int64
                )
                c, d = M.shape
                m = int(np.abs(M).max()) if M.size else 0
                if den * (d * m * m) ** 2 >= 2**63:
                    raise ValueError(
                        "semdedup_kernel int64 overflow bound: "
                        f"den·(d·m²)² with d={d}, m={m} exceeds 2^63 — "
                        "quantize coarser"
                    )
                G = M @ M.T
                n = np.diagonal(G)
                passing = (G > 0) & (den * G * G > num * np.outer(n, n))
                # column j counts passing rows i < j (id-ascending order)
                ndl = np.triu(passing, k=1).sum(axis=0).astype(np.int64)
                for j in range(c):
                    out_rows.append(
                        (int(ids[j]), int(cid), int(ndl[j]), ndl[j] == 0)
                    )
            yield pd.DataFrame(
                out_rows,
                columns=["vec_id", "cid", "n_dups_lower", "keep"],
            )

    grouped = (
        _fold_parallel(vectors.select("vec_id", "cid", "qv"), "cid")
        .groupBy("cid")
        .agg(F.collect_list(F.struct("vec_id", "qv")).alias("vs"))
    )
    return grouped.mapInPandas(fold, schema=_SEMDEDUP_SCHEMA)
