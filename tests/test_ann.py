"""Trained IVF ANN: recall against the brute-force truth."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mapshaper_spark.operators import ann
from mapshaper_spark.sources import testdata

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def setup(spark):
    e = testdata.load(spark, SF, "embeddings")
    model, assigned = ann.train_ivf(e, n_cells=4)
    assigned = assigned.cache()
    qp = F.col("vec_id") < 16
    tp = F.col("vec_id") >= 16
    q = e.filter(qp).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    t = e.filter(tp).select(F.col("vec_id").alias("tid"), F.col("embedding").alias("te"))
    cand = t.crossJoin(F.broadcast(q)).withColumn("sim", F.expr(ann._COS))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "tid")
    truth = (
        cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5).cache()
    )
    return model, assigned, qp, tp, truth


def _recall(got, truth):
    inter = got.select("qid", "tid").intersect(truth.select("qid", "tid")).count()
    return inter / truth.count()


def test_ivf_recall_increases_with_probes(spark, setup):
    model, assigned, qp, tp, truth = setup
    recalls = [
        _recall(ann.ivf_topk(assigned, model, qp, tp, k=5, n_probe=p), truth)
        for p in (1, 2, 3)
    ]
    assert recalls[0] <= recalls[1] <= recalls[2]
    assert recalls[2] >= 0.75  # 3 of 4 cells probed


def test_ivf_full_probe_is_exact(spark, setup):
    model, assigned, qp, tp, truth = setup
    got = ann.ivf_topk(assigned, model, qp, tp, k=5, n_probe=4)
    assert _recall(got, truth) == 1.0


def test_ivf_candidates_restricted_to_probed_cells(spark, setup):
    model, assigned, qp, tp, _truth = setup
    got = ann.ivf_topk(assigned, model, qp, tp, k=5, n_probe=1)
    # with 1 probe the candidate set is a strict subset → some rank-5
    # lists may be short, but never longer than k
    per_q = got.groupBy("qid").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= 5


def _semdedup_synth(spark, n=240, csize=16):
    """n quantized vectors over n//csize hash-uniform clusters; every
    5th vector (id>0) is a bitwise copy of its predecessor (same
    embedding AND cluster), so its cosine to the twin is exactly 1."""
    k = max(1, n // csize)
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr("CASE WHEN id % 5 = 0 AND id > 0 THEN id - 1 ELSE id END").alias(
            "seed"
        ),
    ).select(
        "vec_id",
        F.expr(f"CAST(pmod(hash(seed), {k}) AS BIGINT)").alias("cid"),
        F.expr(
            "transform(sequence(0, 15),"
            " j -> CAST(pmod(hash(seed, j), 2001) - 1000 AS BIGINT))"
        ).alias("qv"),
    )


def _semdedup_joinform(vecs):
    """The oracle-shaped pair self-join over a prepared (vec_id, cid,
    qv) frame — the reference the Gram kernel is pinned against."""
    q = vecs.withColumn("nq", F.expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
    a = q.select(
        F.col("vec_id").alias("va"), "cid",
        F.col("qv").alias("qa"), F.col("nq").alias("nqa"),
    )
    b = q.select(
        F.col("vec_id").alias("vb"), F.col("cid").alias("cidb"),
        F.col("qv").alias("qb"), F.col("nq").alias("nqb"),
    )
    dups = (
        a.join(b, (F.col("cid") == F.col("cidb")) & (F.col("va") < F.col("vb")))
        .withColumn(
            "dot_q",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
                " 0L, (a, x) -> a + x)"
            ),
        )
        .filter("dot_q > 0 AND dot_q * dot_q * 400 > 49 * nqa * nqb")
        .select("vb")
    )
    ndup = dups.groupBy("vb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups_lower")
    )
    return (
        q.select("vec_id", "cid")
        .join(ndup, q.vec_id == ndup.vb, "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("n_dups_lower"), F.lit(0).cast("bigint")).alias(
                "n_dups_lower"
            ),
        )
        .withColumn("keep", F.col("n_dups_lower") == 0)
    )


def test_semdedup_kernel_matches_joinform(spark):
    vecs = _semdedup_synth(spark).cache()
    got = sorted(
        map(tuple, ann.semdedup_kernel(vecs).collect())
    )
    want = sorted(map(tuple, _semdedup_joinform(vecs).collect()))
    assert got == want
    # planted twins really drop and exactly one of each pair keeps
    by_id = {r[0]: r for r in got}
    for vid in range(5, 240, 5):
        assert not by_id[vid][3], vid  # the copy drops
    vecs.unpersist()


def test_semdedup_kernel_singleton_clusters(spark):
    # every vector its own cluster → nothing compares, everything keeps
    vecs = _semdedup_synth(spark, n=24, csize=1).select(
        "vec_id", F.col("vec_id").alias("cid"), "qv"
    )
    rows = ann.semdedup_kernel(vecs).collect()
    assert len(rows) == 24
    assert all(r["keep"] and r["n_dups_lower"] == 0 for r in rows)


def test_semdedup_kernel_overflow_guard(spark):
    # components at 2^31 blow the int64 bound den·(d·m²)² — loud raise
    vecs = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.lit(0).cast("bigint").alias("cid"),
        F.expr(
            "transform(sequence(0, 15), j -> CAST(2147483648 AS BIGINT))"
        ).alias("qv"),
    )
    with pytest.raises(Exception, match="overflow bound"):
        ann.semdedup_kernel(vecs).collect()
