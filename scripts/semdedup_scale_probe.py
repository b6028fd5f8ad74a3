"""Scale probe for the SemDeDup pair-scan stages at N vectors.

The registered ``semdedup_kernel_scan`` query is fixture-shaped in
ONE respect: its k-means assignment inlines k=4 literal seed centroids
(driver-bounded k-means state). At corpus scale k grows with N so
clusters stay bounded (k ≈ N / target_cluster_size — Abbas et al.'s
published recipe), and the assignment comes from a trained clusterer
(the inverted-list layout ``operators/ann.py`` already demonstrates).
This probe therefore stands in a hash-uniform cluster id at
k = N / cluster_size and A/Bs the two pair-scan plans over the SAME
quantized input:

- JOIN FORM (the oracle's pair self-join shape, kept here and in
  tests/test_ann.py as the kernel's reference):
  cluster-keyed self-join (va < vb) shipping both 64-element arrays
  per pair -> zip_with integer dot -> exact threshold -> keep-first;
- GRAM KERNEL (`operators/ann.semdedup_kernel` — the scale path):
  collect_list per cluster -> ONE int64 M @ M.T per cluster inside a
  batched mapInPandas (the CLAUDE.md tiny-group invariant).

The join form runs at min(N, 50k) where the two outputs are checked
ROW-IDENTICAL; the kernel then runs at full N. Invariants at N:
- one output row per vector (left-join resolution loses nothing);
- every PLANTED exact duplicate drops: vectors with id % 16 == 0
  (id > 0) copy the embedding AND cluster of id-1 bit-for-bit, so
  their cosine is exactly 1 and the integer test fires at any
  threshold (400·nq² > 49·nq²).

Usage: python scripts/semdedup_scale_probe.py [N] [cluster_size]
       (defaults 1000000, 128)
Writes BENCH/semdedup_probe.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapshaper_spark.operators import ann
from mapshaper_spark.session import get_spark


def synth(spark, n: int, csize: int):
    """N 64-dim quantized int vectors with a hash-uniform cluster id
    over k = N // csize clusters; every 16th vector is a bitwise copy
    of its predecessor (same embedding, same cluster)."""
    k = max(1, n // csize)
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "CASE WHEN id % 16 = 0 AND id > 0 THEN id - 1 ELSE id END"
        ).alias("seed"),
    ).select(
        "vec_id",
        F.expr(f"CAST(pmod(hash(seed), {k}) AS BIGINT)").alias("cid"),
        F.expr(
            "transform(sequence(0, 63), j -> "
            "CAST(pmod(hash(seed, j), 2001) - 1000 AS BIGINT))"
        ).alias("qv"),
    )


def joinform(q):
    """The oracle-shaped pair self-join over (vec_id, cid, qv)."""
    q = q.withColumn("nq", F.expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
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


def _check(res_df, n: int):
    agg = res_df.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum(
            F.when(
                (F.col("vec_id") % 16 == 0) & (F.col("vec_id") > 0)
                & F.col("keep"),
                1,
            ).otherwise(0)
        ).alias("planted_kept"),
    ).first()
    assert agg.rows == n, agg
    assert agg.planted_kept == 0, agg  # every planted twin drops
    return int(agg.kept)


def run(spark, n: int, csize: int) -> dict:
    out: dict = {"n_vectors": n, "cluster_size": csize, "k": max(1, n // csize)}

    # --- equality leg: both plans at a join-form-feasible size -------
    n_small = min(n, 50_000)
    small = synth(spark, n_small, csize)
    small.write.mode("overwrite").parquet(f"/tmp/semdedup_probe_{n_small}_eq")
    small = spark.read.parquet(f"/tmp/semdedup_probe_{n_small}_eq")

    t0 = time.time()
    jf = sorted(map(tuple, joinform(small).collect()))
    out["joinform_n"] = n_small
    out["joinform_sec"] = round(time.time() - t0, 2)
    out["joinform_vectors_per_sec"] = int(
        n_small / max(out["joinform_sec"], 1e-9)
    )
    t0 = time.time()
    kn = sorted(map(tuple, ann.semdedup_kernel(small).collect()))
    out["kernel_small_sec"] = round(time.time() - t0, 2)
    assert jf == kn, "kernel != join form on the equality leg"
    out["plans_identical"] = True

    # --- kernel at full N --------------------------------------------
    emb = synth(spark, n, csize)
    emb.write.mode("overwrite").parquet(f"/tmp/semdedup_probe_{n}")
    emb = spark.read.parquet(f"/tmp/semdedup_probe_{n}")

    t0 = time.time()
    kept = _check(ann.semdedup_kernel(emb), n)
    out["kernel_sec"] = round(time.time() - t0, 2)
    out["kept"] = kept
    out["dropped"] = n - kept
    # pairs actually scanned: sum over clusters of c*(c-1)/2
    pairs = (
        emb.groupBy("cid")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) DIV 2")))
        .first()[0]
    )
    out["pairs_scanned"] = int(pairs)
    out["kernel_vectors_per_sec"] = int(n / max(out["kernel_sec"], 1e-9))
    out["kernel_pairs_per_sec"] = int(pairs / max(out["kernel_sec"], 1e-9))
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    csize = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    spark = get_spark("semdedup-probe", cpus=32, shuffle_partitions=32)
    result = run(spark, n, csize)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "semdedup_probe.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
