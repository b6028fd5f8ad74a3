"""Images pipeline: payload invariants, thumbnails, near-dup blocking
[BASELINE.json north_rule PSNR>=40dB, caption equality, phash]."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapshaper_spark import fixtures, geometry
from mapshaper_spark.operators import images as images_op


def test_invariants_all_pass(spark):
    inv = images_op.verify_invariants(fixtures.images_df(spark, 64, partitions=4))
    rows = inv.collect()
    assert len(rows) == 64
    assert all(r["phash_ok"] for r in rows), "phash recompute mismatch"
    assert all(r["caption_ok"] for r in rows), "caption inequality"
    assert min(r["psnr_db"] for r in rows) >= 40.0, "lossy roundtrip below 40dB"


def _zero_error_row(i: int) -> dict:
    """Image row ``i`` with its pixels' two low bits cleared: the lossy
    stand-in round-trips it exactly, so its PSNR is inf."""
    r = fixtures.make_image(i)
    px = np.frombuffer(r["bytes"], dtype=np.uint8).reshape(r["h"], r["w"], 3) & 0xFC
    lon, lat = fixtures.image_lonlat(i)
    return {**r, "bytes": px.tobytes(), "phash": int(fixtures.ahash64(px, r["w"], r["h"])), "lon": lon, "lat": lat}


def test_verify_invariants_matches_per_row_reference(spark):
    """The size-class kernel gives exactly the frame a per-row loop
    builds: same rows, values and dtypes (passthrough columns come out
    in the input schema's order). Each 16-row batch holds several
    (w, h) classes; one image has zero round-trip error (PSNR inf,
    clamped to 1e6); one partition is empty."""
    import pandas as pd

    gen = fixtures.images_df(spark, 48, partitions=3)
    extra = spark.createDataFrame(pd.DataFrame([_zero_error_row(48)]), schema=gen.schema)
    imgs = gen.unionByName(extra).unionByName(spark.createDataFrame([], gen.schema))
    got = (
        images_op.verify_invariants(imgs, passthrough=["lon", "lat", "w"])
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    rows = []
    for r in imgs.orderBy("image_id").collect():
        px = images_op.decode(r["bytes"], r["w"], r["h"], r["fmt"])
        p = geometry.psnr(px, images_op.quantize(px))
        rows.append({
            "image_id": r["image_id"],
            "phash_ok": int(fixtures.ahash64(px, r["w"], r["h"])) == r["phash"],
            "psnr_db": float(min(p, 1e6)),
            "caption_ok": r["caption"] == fixtures.make_caption(int(r["image_id"][3:])),
            "w": r["w"],
            "lon": r["lon"],
            "lat": r["lat"],
        })
    want = pd.DataFrame(rows).astype({"w": "int32"})
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert len(got) == 49 and got["psnr_db"].iloc[-1] == 1e6
    assert got[["phash_ok", "caption_ok"]].all().all()
    # an empty Arrow batch keeps the output dtypes
    empty = images_op._verify_batch(imgs.limit(0).toPandas(), ["lon"])
    assert empty.dtypes.astype(str).tolist() == ["object", "bool", "float64", "bool", "float64"]


def test_verify_rejects_bad_payloads_per_row(spark):
    """Each row is checked before its size class is gathered: a codec
    format still raises through ``decode``, and a buffer that is not
    w*h*3 bytes raises naming its image_id, even when a short and a long
    buffer in one class add up to the right total."""
    import pandas as pd

    good = [fixtures.make_image(i) for i in (0, 9)]  # both 16x16
    short, long = dict(good[0]), dict(good[1])
    short["bytes"], long["bytes"] = short["bytes"][:-3], long["bytes"] + b"\0\0\0"
    schema = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    bad = spark.createDataFrame(pd.DataFrame([short, long]), schema=schema).coalesce(1)
    with pytest.raises(Exception, match="img000000000: 765 payload bytes"):
        images_op.verify_invariants(bad).collect()
    with pytest.raises(ValueError, match="img000000009"):
        images_op._verify_batch(pd.DataFrame([good[0], long]), [])
    with pytest.raises(NotImplementedError):
        images_op._verify_batch(pd.DataFrame([good[0], {**good[1], "fmt": "jpeg"}]), [])
    assert images_op._verify_batch(pd.DataFrame(good), [])["phash_ok"].all()


def test_thumbnails_shape_and_determinism(spark):
    th = images_op.thumbnails(fixtures.images_df(spark, 16, partitions=2), size=8)
    rows = {r["image_id"]: r for r in th.collect()}
    assert len(rows) == 16
    r = fixtures.make_image(3)
    px = np.frombuffer(r["bytes"], dtype=np.uint8).reshape(r["h"], r["w"], 3)
    want = images_op.resize_nearest(px, 8, 8).tobytes()
    assert bytes(rows["img000000003"]["thumb"]) == want


def test_decode_stub_raises_for_codec_formats():
    with pytest.raises(NotImplementedError):
        images_op.decode(b"\xff\xd8", 1, 1, "jpeg")


def test_near_dup_pairs_symmetric_bound(spark):
    imgs = fixtures.images_df(spark, 128, partitions=4).select("image_id", "phash")
    pairs = images_op.phash_near_dup_pairs(imgs, prefix_bits=4, max_hamming=28)
    pdf = pairs.toPandas()
    assert (pdf["id_a"] < pdf["id_b"]).all()
    assert (pdf["hamming"] <= 28).all()


def test_frame_sample_plumbing(spark):
    """Frame sampling over a deterministic fake video container (8 raw
    RGB frames concatenated): sampled frame set, per-frame stats, and
    determinism all verified against a driver-side recompute."""
    import numpy as np
    import pandas as pd

    from mapshaper_spark import fixtures, geometry
    from mapshaper_spark.operators import images as images_op

    w = h = 16
    n_frames = 8
    rng = np.random.Generator(np.random.PCG64(7))
    frames = [
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8) for _ in range(n_frames)
    ]
    buf = b"".join(f.tobytes() for f in frames)
    vids = spark.createDataFrame(
        pd.DataFrame(
            {"video_id": ["v0"], "bytes": [buf], "w": [w], "h": [h], "fmt": ["raw"]}
        ),
        schema="video_id string, bytes binary, w int, h int, fmt string",
    ).repartition(2)

    out = {r["frame_idx"]: r for r in images_op.frame_sample(vids, every_k=3).collect()}
    assert sorted(out) == [0, 3, 6]
    for fi, r in out.items():
        px = frames[fi]
        means = px.reshape(-1, 3).mean(axis=0)
        assert r["mean_r"] == float(means[0])
        assert r["frame_phash"] == int(fixtures.ahash64(px, w, h))
    # non-raw container fails loudly (codec stub contract)
    bad = vids.withColumn("fmt", F.lit("mp4"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        images_op.frame_sample(bad).collect()


def test_bytes_pruned_from_parquet_scan(spark, tmp_path):
    """Guard: on the real storage path (parquet), the near-dup plan's
    scan must prune the binary column — bytes never enter the shuffle."""
    path = str(tmp_path / "imgs")
    fixtures.images_df(spark, 16, partitions=2).write.parquet(path)
    imgs = spark.read.parquet(path)
    plan = images_op.phash_near_dup_pairs(
        imgs.select("image_id", "phash"), 4, 28
    )._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<image_id:string,phash:bigint>" in plan
    assert "bytes:binary" not in plan and "binary" not in plan
