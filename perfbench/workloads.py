"""The two workloads and the two traced-run probes. Each workload
generates its inputs from the seed, computes its expected result
independently, runs one op per call and checks that op's output. See
README.md for why each exists."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from mapshaper_spark import cells, fixtures, geometry
from mapshaper_spark.operators import images as img_op
from mapshaper_spark.operators import overlay, skew
from mapshaper_spark.operators import spatial_join as sj
from mapshaper_spark.plans import lineage
from mapshaper_spark.sources import testdata

from . import inputs, oracles


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _tile_rows(hits):
    tx, ty = cells.tile_sql("lon", "lat", oracles.TILE_Z)
    return (
        hits.withColumn("tile_x", F.expr(tx))
        .withColumn("tile_y", F.expr(ty))
        .groupBy("poly_id", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def _shoelace(xs: np.ndarray, ys: np.ndarray) -> float:
    x = xs - xs.mean()
    y = ys - ys.mean()
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


class Workload:
    """A PIP workload over the fixture polygon layer: ``generate`` (no
    Spark) → ``expected`` (oracle, may run on a thread) → ``prepare``
    (per session: the cell index) → ``op`` (timed, checked)."""

    name = ""
    rows = 0  # input rows one op consumes
    points_dir = ""
    # warm-up ops before op time may be called settled: C2 keeps
    # compiling the scan and Arrow paths while 4 busy cores starve it
    warm_ops = 8

    def __init__(self, seed: int, run_dir: str, cores: int, spans):
        self.rng = np.random.default_rng(seed)
        self.dir = run_dir
        self.cores = cores
        self.spans = spans
        self.facts: dict = {}
        self.layer: dict[str, float] = {}

    def generate(self) -> None:
        raise NotImplementedError

    def expected(self) -> None:
        self.want = oracles.tile_counts(self.points_dir, self.cores, self.dir)

    def op(self, spark, i: int) -> tuple[float, bool]:
        raise NotImplementedError

    def input_facts(self) -> dict:
        return {k: v for k, v in self.facts.items() if isinstance(v, (int, float, str))}

    def prepare(self, spark) -> None:
        with self.spans.span("cells.build_cell_index"):
            t0 = time.perf_counter()
            self.idx = sj.build_cell_index(spark, testdata.polygons(spark)).localCheckpoint()
            # the first session's build is the one set-up pays
            self.layer.setdefault("cells.index_build_s", time.perf_counter() - t0)

    def probe(self, spark) -> tuple[int, int]:
        """Traced run only: benchmark-side layer probes and the no-Spark
        kernel legs, writing into ``self.layer``. Returns the checked
        probe rounds as (attempted, failed)."""
        spark.sparkContext.setJobGroup("probe-coverage", "candidate coverage")
        with self.spans.span("cells.coverage_probe"):
            cov = dict(self.idx.groupBy("coverage").count().collect())
            pts = spark.read.parquet(self.points_dir).select("lon", "lat")
            cand = dict(
                sj.with_cell(pts).join(F.broadcast(self.idx), "cell_id")
                .groupBy("coverage").count().collect()
            )
        full, part = cand.get(sj.FULL, 0), cand.get(sj.PARTIAL, 0)
        self.layer["cells.index_full_frac"] = cov.get(sj.FULL, 0) / max(sum(cov.values()), 1)
        # the share of candidate rows in PARTIAL cells: the rows the PIP
        # kernel must test
        self.layer["geometry.kernel_tested_frac"] = part / max(full + part, 1)
        self.layer["geometry.pip_hit_frac"] = (self.want["hits"] - full) / max(part, 1)
        # no-Spark kernel leg on this run's own points
        lon, lat = self.lonlat
        m = min(len(lon), 500_000)
        rings = [np.asarray(p["ring"]) for p in fixtures.POLYGONS]
        with self.spans.span("geometry.pip_convex"):
            t0 = time.perf_counter()
            for ring in rings:
                geometry.pip_convex(lon[:m], lat[:m], ring)
            dt = time.perf_counter() - t0
        self.layer["geometry.pip_convex_pts_per_s"] = m * len(rings) / dt
        return 0, 0


class PipTiles(Workload):
    """parquet scan → with_cell → broadcast pip_attribute → z4 tiles."""

    name = "pip_tiles"
    rows = 4_000_000
    warm_ops = 14  # op time falls 2.2 → 1.4 s over the first ~14 ops

    def generate(self) -> None:
        self.points_dir = os.path.join(self.dir, "points")
        g = inputs.points(self.rng, self.rows, self.points_dir)
        self.lonlat = (g.pop("lon"), g.pop("lat"))
        self.facts.update(points=g["rows"], input_bytes=g["bytes"])

    def op(self, spark, i: int) -> tuple[float, bool]:
        t0 = time.perf_counter()
        with self.spans.span("sources.read_parquet"):
            pts = spark.read.parquet(self.points_dir).select("point_id", "lon", "lat")
        with self.spans.span("spatial_join.pip_attribute"):
            hits = sj.pip_attribute(pts, self.idx)
        with self.spans.span("action.tile_counts"):
            rows = _tile_rows(hits)
        dt = time.perf_counter() - t0
        return dt, oracles.digest(rows) == self.want["digest"]

    def probe(self, spark) -> tuple[int, int]:
        super().probe(spark)
        # the write path runs beside this workload's reads, on its cell layer
        return checkpoint_resume(spark, self)


class VerifySaltedTiles(Workload):
    """image rows → verify_invariants (lon/lat passed through) →
    pip_attribute_salted → z4 tiles."""

    name = "verify_salted_tiles"
    rows = 12_000

    def generate(self) -> None:
        self.points_dir = os.path.join(self.dir, "images")
        g = inputs.images(self.rng, self.rows, self.points_dir)
        self.facts.update(images=g["rows"], input_bytes=g["bytes"], payload_bytes=g["payload_bytes"])
        t = pq.read_table(self.points_dir, columns=["lon", "lat"])
        self.lonlat = (t["lon"].to_numpy(), t["lat"].to_numpy())
        # hot cells get ~4 salts each: 10% of rows per hotspot / 2.5%
        self.target_rows = self.rows // 40

    def op(self, spark, i: int) -> tuple[float, bool]:
        t0 = time.perf_counter()
        obs = Observation(f"verify-{i}")
        with self.spans.span("sources.read_parquet"):
            imgs = spark.read.parquet(self.points_dir)
        with self.spans.span("images.verify_invariants"):
            v = img_op.verify_invariants(imgs, passthrough=["lon", "lat"])
        ok_row = F.col("phash_ok") & F.col("caption_ok") & (F.col("psnr_db") >= 40.0)
        v = v.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(ok_row, 0).otherwise(1)).alias("bad"),
        ).withColumnRenamed("image_id", "point_id")
        stats = imgs.select(F.col("image_id").alias("point_id"), "lon", "lat")
        with self.spans.span("skew.pip_attribute_salted"):
            hits = skew.pip_attribute_salted(
                v, self.idx, target_rows_per_task=self.target_rows, stats_points=stats
            )
        with self.spans.span("action.tile_counts"):
            rows = _tile_rows(hits)
        dt = time.perf_counter() - t0
        seen = obs.get
        ok = (
            oracles.digest(rows) == self.want["digest"]
            and seen["n"] == self.rows
            and seen["bad"] == 0
        )
        return dt, ok

    def probe(self, spark) -> tuple[int, int]:
        super().probe(spark)
        spark.sparkContext.setJobGroup("probe-salt", "salt factors")
        stats = sj.with_cell(
            spark.read.parquet(self.points_dir).select(F.col("image_id").alias("point_id"), "lon", "lat")
        )
        with self.spans.span("skew.cell_salt_factors"):
            t0 = time.perf_counter()
            hot = skew.cell_salt_factors(stats, self.target_rows).collect()
            self.layer["skew.salt_factors_s"] = time.perf_counter() - t0
        self.layer["skew.hot_cells"] = len(hot)
        # no-Spark leg: the per-row verify body on this run's first file
        t = pq.read_table(os.path.join(self.points_dir, "part-000.parquet")).to_pylist()
        with self.spans.span("images.verify_kernel"):
            t0 = time.perf_counter()
            for r in t:
                px = img_op.decode(r["bytes"], r["w"], r["h"], r["fmt"])
                ok = int(fixtures.ahash64(px, r["w"], r["h"])) == r["phash"]
                ok &= geometry.psnr(px, img_op.quantize(px)) >= 40.0
                ok &= r["caption"] == fixtures.make_caption(int(r["image_id"][3:]))
                if not ok:
                    raise AssertionError(f"verify kernel rejected {r['image_id']}")
            dt = time.perf_counter() - t0
        self.layer["images.verify_rows_per_s"] = len(t) / dt
        return dissolve_rings(spark, self)


# ---------------------------------------------------------------- probes ---
# The write path (lineage) and the ring emitter (overlay) have no
# workload of their own: on 4 cores their first op alone costs 13-21 s
# of one-off JIT and worker start, and a run of either takes 50-70 s,
# which would double the benchmark's wall time. A traced run measures
# them here instead, on inputs drawn from the same seed: round 1 warms
# up, the last round is reported.


def _drop_quarter(rng, out: str, lin: str) -> set[int]:
    """Delete a seeded quarter of the landed buckets, data and lineage."""
    buckets = sorted(int(d.split("=", 1)[1]) for d in os.listdir(out) if d.startswith("_bucket="))
    drop = {int(b) for b in rng.choice(buckets, len(buckets) // 4, replace=False)}
    for b in drop:
        shutil.rmtree(os.path.join(out, f"_bucket={b}"))
    ln = pq.read_table(lin)
    keep = ln.filter(pa.array(~np.isin(ln["bucket"].to_numpy(), list(drop))))
    shutil.rmtree(lin)
    os.makedirs(lin)
    pq.write_table(keep, os.path.join(lin, "part-00000.parquet"))
    return drop


def checkpoint_resume(spark, wl: Workload, rows: int = 200_000, rounds: int = 2) -> tuple[int, int]:
    """with_cell → lineage.run_stage (bucketed, cell-sorted parquet plus
    lineage) → drop a seeded quarter of the buckets → resume →
    verify_lineage. Returns (rounds, rounds that failed their check):
    every bucket verifies and every input row lands once."""
    res, bucket_res = 8, 2
    src = os.path.join(wl.dir, "lineage-input")
    inputs.points(wl.rng, rows, src, with_value=True)
    pts = sj.with_cell(spark.read.parquet(src), res=res)
    failed = 0
    for r in range(rounds):
        spark.sparkContext.setJobGroup(f"probe-lineage-{r}", "checkpoint and resume")
        base = os.path.join(wl.dir, f"lineage-{r}")
        out, lin = os.path.join(base, "data"), os.path.join(base, "lineage")
        t = {}
        with wl.spans.span("lineage.first_run"):
            t0 = time.perf_counter()
            first = lineage.run_stage(pts, "cells", out, lin, res=res, bucket_res=bucket_res)
            t["first"] = time.perf_counter() - t0
        drop = _drop_quarter(wl.rng, out, lin)
        with wl.spans.span("lineage.resume"):
            t0 = time.perf_counter()
            resumed = lineage.run_stage(pts, "cells", out, lin, res=res, bucket_res=bucket_res)
            t["resume"] = time.perf_counter() - t0
        with wl.spans.span("lineage.verify"):
            t0 = time.perf_counter()
            verified = lineage.verify_lineage(spark, out, lin)
            t["verify"] = time.perf_counter() - t0
        landed = sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, _s, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        )
        failed += not (
            verified
            and landed == rows
            and first["rows"] == rows
            and resumed["buckets_done"] == len(drop)
            and resumed["buckets_skipped"] == first["buckets_done"] - len(drop)
        )
        stored = _du(out) + _du(lin)
        wl.layer.update(
            {
                "lineage.first_run_s": t["first"],
                "lineage.resume_s": t["resume"],
                "lineage.verify_s": t["verify"],
                "lineage.buckets_done": resumed["buckets_done"],
                "lineage.buckets_skipped": resumed["buckets_skipped"],
                "lineage.rows_written": first["rows"] + resumed["rows"],
                "lineage.bytes_written": stored,
                "lineage.bytes_per_row": stored / rows,
            }
        )
        shutil.rmtree(base)
    return rounds, failed


def dissolve_rings(
    spark, wl: Workload, n_keys: int = 2, clusters_per_key: int = 8, rounds: int = 2
) -> tuple[int, int]:
    """overlay.dissolve2_rings_tiled(chunked=True) over a seeded
    clustered box layer; every ring area must match the driver-side
    union_many of its cluster to 1e-9. Returns (rounds, failed rounds)."""
    src = os.path.join(wl.dir, "boxes")
    g = inputs.boxes(wl.rng, n_keys, clusters_per_key, src)
    with wl.spans.span("geometry.union_many"):
        want = oracles.union_areas(g["clusters"])
    wl.layer["geometry.union_many_s"] = want["union_many_s"]
    failed = 0
    for r in range(rounds):
        spark.sparkContext.setJobGroup(f"probe-overlay-{r}", "dissolve rings")
        with wl.spans.span("overlay.dissolve2_rings_tiled"):
            t0 = time.perf_counter()
            rows = overlay.dissolve2_rings_tiled(spark.read.parquet(src), res=4, chunked=True).collect()
            wl.layer["overlay.op_s"] = time.perf_counter() - t0
        chunks: dict[tuple, list] = {}
        for row in rows:
            chunks.setdefault((row["key"], row["ring_id"]), []).append(
                (row["chunk_seq"], row["xs"], row["ys"])
            )
        got: dict[str, list[float]] = {}
        for (key, _rid), parts in chunks.items():
            parts.sort(key=lambda p: p[0])
            xs = np.concatenate([np.asarray(p[1], dtype=float) for p in parts])
            ys = np.concatenate([np.asarray(p[2], dtype=float) for p in parts])
            got.setdefault(key, []).append(_shoelace(xs, ys))
        wl.layer["overlay.output_rings"] = len(chunks)
        wl.layer["overlay.features"] = g["rows"]
        failed += not oracles.rings_match(got, want["areas"])
    return rounds, failed


WORKLOADS = {w.name: w for w in (PipTiles, VerifySaltedTiles)}
