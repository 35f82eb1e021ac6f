"""End-to-end pipeline (cli.run_pipeline): produces all three stage
outputs, resumes as a no-op, and survives a partial first run."""

import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.cli import run_pipeline
from fujishadergpu_spark.sources.pages import pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "pages.parquet")
    pages(spark, 2000).write.mode("overwrite").parquet(p)
    return p


def test_pipeline_end_to_end_and_resume(spark, pages_path, tmp_path):
    out = str(tmp_path / "out")
    s1 = run_pipeline(spark, pages_path, out, zoom=5, run_id="r1")
    assert all(not s["skipped"] for s in s1.values())
    n_pts = spark.read.parquet(f"{out}/points").count()
    assert n_pts == 2000
    assert spark.read.parquet(f"{out}/pip").count() > 0
    n_tiles = spark.read.parquet(f"{out}/tiles").count()
    assert n_tiles > 1
    # resume: everything done -> all stages skip
    s2 = run_pipeline(spark, pages_path, out, zoom=5, run_id="r2")
    assert all(s["skipped"] for s in s2.values())
    # outputs unchanged
    assert spark.read.parquet(f"{out}/points").count() == n_pts
    assert spark.read.parquet(f"{out}/tiles").count() == n_tiles


def test_pipeline_shuffle_partition_invariance(spark, pages_path, tmp_path):
    """Identical pip rows under different shuffle layouts (the
    partition-invariance law, FIXTURES.md §5)."""
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        run_pipeline(spark, pages_path, out_a, zoom=5, run_id="ra")
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        run_pipeline(spark, pages_path, out_b, zoom=5, run_id="rb")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    pa = {tuple(r) for r in spark.read.parquet(f"{out_a}/pip").select("id", "polygon_id").collect()}
    pb = {tuple(r) for r in spark.read.parquet(f"{out_b}/pip").select("id", "polygon_id").collect()}
    assert pa == pb
    ta = {tuple(r) for r in spark.read.parquet(f"{out_a}/tiles").select("x", "y", "lit_pixels", "shade_sum").collect()}
    tb = {tuple(r) for r in spark.read.parquet(f"{out_b}/tiles").select("x", "y", "lit_pixels", "shade_sum").collect()}
    assert ta == tb


def test_render_cli_end_to_end(spark, tmp_path):
    """The reference's primary command analog: kernel -> global stretch
    -> uint8 quantize -> resumable tile sink. 65,536-byte payloads,
    DN 0 reserved for NoData, idempotent re-run."""
    import numpy as np

    from fujishadergpu_spark.cli import run_render
    from fujishadergpu_spark.sources.pages import pages

    src = str(tmp_path / "pages")
    pages(spark, 2000).write.parquet(src)
    out = str(tmp_path / "render")
    s1 = run_render(spark, src, out, algorithm="hillshade", zoom=5)
    assert s1["keys_processed"] > 0
    tiles = spark.read.parquet(f"{out}/tiles_hillshade_z5")
    rows = tiles.collect()
    assert all(len(r["dn"]) == 256 * 256 for r in rows)
    dn = np.frombuffer(rows[0]["dn"], dtype=np.uint8)
    assert dn.min() >= 1  # density rasters have no NoData -> DN 0 unused
    s2 = run_render(spark, src, out, algorithm="hillshade", zoom=5)
    assert s2["skipped"]  # lineage resume


def test_render_many_forwards_metric_scale_and_fill_zc(spark, pages_path, monkeypatch):
    """Advice r3: --metric-scale was silently dropped on the
    multi-algorithm fan-out path. Pin the forwarding by capturing
    run_render's kwargs (no render executed — everything upstream of
    the fake is lazy)."""
    import fujishadergpu_spark.cli as cli

    seen = {}

    def fake_run_render(spark_, pages_path_, out_root, algorithm, zoom, **kw):
        seen[algorithm] = kw
        return {"stage": algorithm}

    monkeypatch.setattr(cli, "run_render", fake_run_render)
    cli.run_render_many(
        spark, pages_path, "/nonexistent_out", ["hillshade", "slope"],
        zoom=5, metric_scale=True, fill_zc=3,
    )
    assert set(seen) == {"hillshade", "slope"}
    for kw in seen.values():
        assert kw["metric_scale"] is True
        assert kw["fill_zc"] == 3


def test_render_adopts_legacy_untagged_stats(spark, pages_path, tmp_path):
    """Advice r3: a default-config render resumed across the cfg-tag
    upgrade must quantize on the legacy persisted (lo, scale), not
    recompute — otherwise the remaining tiles seam at the resume
    boundary."""
    import numpy as np

    from fujishadergpu_spark.cli import run_render

    out = str(tmp_path / "legacy")
    # plant legacy stats whose scale crushes every value to DN 1
    spark.createDataFrame([(0.0, 1e12)], "lo double, scale double").coalesce(1) \
        .write.parquet(f"{out}/_stats_render_hillshade_z5")
    run_render(spark, pages_path, out, "hillshade", 5)
    tiles = spark.read.parquet(f"{out}/tiles_hillshade_z5").collect()
    assert tiles
    for r in tiles:
        dn = np.frombuffer(r["dn"], dtype=np.uint8)
        assert set(np.unique(dn)) <= {0, 1}  # planted scale honored


def test_render_topousm_symmetric_p99_stretch(spark, pages_path, tmp_path):
    """r3 verdict #6: `render --algorithm topousm` applies the
    reference's unconditional ±|p99| normalization (reference
    algorithms/_normalization.py:22-41) — the persisted stats must be
    exactly symmetric (lo == -scale/2), no seam warning fires, and
    the quantized tiles use the full signed range around mid-gray."""
    import glob
    import warnings

    import numpy as np

    from fujishadergpu_spark.cli import run_render

    out = str(tmp_path / "usm")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning (incl. seam) fails
        run_render(spark, pages_path, out, "topousm", 5, radii=[2, 8, 64])
    sdirs = glob.glob(f"{out}/_stats_render_topousm_z5_*")
    assert len(sdirs) == 1
    srow = spark.read.parquet(sdirs[0]).first()
    assert srow["lo"] == -srow["scale"] / 2.0
    assert srow["scale"] > 0
    tiles = spark.read.parquet(f"{out}/tiles_topousm_z5").collect()
    assert tiles
    dns = np.concatenate([np.frombuffer(r["dn"], dtype=np.uint8) for r in tiles])
    assert len(dns) % 65536 == 0
    valid = dns[dns > 0]
    # symmetric stretch: zero relief -> DN ~128; both halves populated
    assert (valid < 120).any() and (valid > 136).any()


def test_render_pools_central_window_when_sample_misses(spark, tmp_path):
    """A render whose output tiles all miss the 1/4 tile-hash sample
    must pool its stretch from the A10 central window, not quantize on
    the (0, 1) default: every point sits in zoom-5 tile (28, 12), whose
    hash mod 4 is 2."""
    import glob

    import numpy as np

    from fujishadergpu_spark.cli import run_render

    (hit,) = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(28).cast("long"), F.lit(12).cast("long")), F.lit(4)).alias("h")
    ).first()
    assert hit != 0, "tile (28, 12) must miss the sample"
    # spread over most of the tile so that p99 of the slope is not flat
    rng = np.random.RandomState(5)
    lat = rng.uniform(33.0, 40.0, 2000)
    lon = rng.uniform(136.0, 145.0, 2000)
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        [(f"https://a.example/p/{i}?lat={a:.5f}&lon={o:.5f}", "") for i, (a, o) in enumerate(zip(lat, lon))],
        "url string, text string",
    ).write.parquet(src)
    out = str(tmp_path / "render")
    run_render(spark, src, out, "slope", 5)
    (sdir,) = glob.glob(f"{out}/_stats_render_slope_z5_*")
    srow = spark.read.parquet(sdir).first()
    assert (srow["lo"], srow["scale"]) != (0.0, 1.0)
    tiles = spark.read.parquet(f"{out}/tiles_slope_z5").collect()
    assert [(r["x"], r["y"]) for r in tiles] == [(28, 12)]
    assert len(np.unique(np.frombuffer(tiles[0]["dn"], dtype=np.uint8))) > 2


@pytest.mark.parametrize("every", [3, 1])
def test_pipeline_pages_without_coordinates(spark, tmp_path, every):
    """Pages whose URL and text carry no coordinates (every ``every``-th
    page; every=1 is all of them) geoparse to NULL lat/lon: the points
    stage keeps them, PIP and tiles drop them, each stage's lineage
    row counts sum to its readback count, and a second run processes
    no key."""
    src = str(tmp_path / "pages")
    no_coords = F.pmod(F.regexp_extract("url", r"/p/(\d+)", 1).cast("long"), F.lit(every)) == 0
    (
        pages(spark, 600)
        .withColumns({
            "url": F.when(no_coords, F.regexp_replace("url", r"\?.*$", "")).otherwise(F.col("url")),
            "text": F.when(no_coords, F.regexp_replace("text", r" near \([^)]*\)", ""))
            .otherwise(F.col("text")),
        })
        .write.parquet(src)
    )
    out = str(tmp_path / "out")
    s1 = run_pipeline(spark, src, out, zoom=5, run_id="r1")
    assert not s1["points"]["skipped"]
    pts = spark.read.parquet(f"{out}/points")
    assert pts.count() == 600
    assert pts.filter(F.col("lat").isNull()).count() == len(range(0, 600, every))
    logged = {
        r["stage"]: r["n"]
        for r in spark.read.parquet(f"{out}/_lineage").groupBy("stage")
        .agg(F.sum("row_count").alias("n")).collect()
    }
    for stage in ("points", "pip", "tiles"):
        written = 0 if s1[stage]["skipped"] else spark.read.parquet(f"{out}/{stage}").count()
        assert logged.get(stage, 0) == written, stage
    assert s1["pip"]["skipped"] == s1["tiles"]["skipped"] == (every == 1)
    s2 = run_pipeline(spark, src, out, zoom=5, run_id="r2")
    assert all(s["keys_processed"] == 0 for s in s2.values()), s2
