"""The lineage commit's shape: the completed keys are one bounded
driver-side list, removed by a literal filter that reaches the scan,
in a fixed small number of Spark jobs per stage, writing one file per
key."""

import os

import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark import cli
from fujishadergpu_spark.plans import lineage as L
from fujishadergpu_spark.sources.pages import pages


def _mkdf(spark, n=1000, keys=10):
    return spark.range(n).select(
        "id", F.pmod("id", F.lit(keys)).alias("bucket"), (F.col("id") * 2).alias("v")
    )


def _tree(path):
    """Every file under ``path`` with its size and mtime."""
    return {
        os.path.join(root, f): (os.path.getsize(os.path.join(root, f)),
                                os.path.getmtime(os.path.join(root, f)))
        for root, _, files in os.walk(path) for f in files
    }


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_completed_keys_past_bound_raise_before_any_write(spark, tmp_path, monkeypatch):
    df = _mkdf(spark)
    lin = L.LineageLog(spark, str(tmp_path / "lineage"))
    out = str(tmp_path / "out")
    L.run_stage_idempotent(spark, df, "bucket", out, lin, "s", run_id="r1")
    before = _tree(tmp_path)
    monkeypatch.setattr(L, "MAX_KEYS", 4)
    with pytest.raises(ValueError, match="MAX_KEYS"):
        L.run_stage_idempotent(spark, df, "bucket", out, lin, "s", run_id="r2")
    assert _tree(tmp_path) == before
    # a first commit past the bound raises before it logs a key
    lin2 = L.LineageLog(spark, str(tmp_path / "lineage2"))
    with pytest.raises(ValueError, match="MAX_KEYS"):
        L.run_stage_idempotent(spark, df, "bucket", str(tmp_path / "out2"), lin2, "s")
    assert lin2.read().count() == 0


def test_commit_and_noop_resume_job_counts(spark, tmp_path):
    """A first commit runs 7 jobs: done keys from the empty log (1),
    the rebalance by key (1), write (1), readback schema (1), per-key
    counts (2), lineage append (1). A no-op resume runs 5: done keys
    (2), rebalance (1), write (1), readback schema (1); the counts over
    a readback whose every partition is pruned run none."""
    df = _mkdf(spark)
    lin = L.LineageLog(spark, str(tmp_path / "lineage"))
    out = str(tmp_path / "out")

    def commit(run_id):
        return lambda: L.run_stage_idempotent(spark, df, "bucket", out, lin, "s", run_id=run_id)

    s1, first = _jobs(spark, "lineage-first", commit("r1"))
    s2, noop = _jobs(spark, "lineage-noop", commit("r2"))
    assert s1["keys_processed"] == 10 and s2["skipped"]
    assert first <= 7, first
    assert noop <= 5, noop


def test_each_key_is_one_file(spark, tmp_path):
    """Rows of one key from many upstream tasks land in one file, so a
    stage's file count follows its key count, not tasks x keys."""
    out = tmp_path / "out"
    lin = L.LineageLog(spark, str(tmp_path / "lineage"))
    L.run_stage_idempotent(spark, _mkdf(spark).repartition(8), "bucket", str(out), lin, "s")
    files = {d.name: len(list(d.glob("*.parquet"))) for d in out.glob("_pk=*")}
    assert files == {f"_pk={k}": 1 for k in range(10)}


def test_points_stage_filter_sits_on_the_scan(spark, tmp_path, monkeypatch):
    """On resume the points stage's done-key filter is pushed through
    geoparse onto the pages relation, so a finished bucket is never
    parsed."""
    src = str(tmp_path / "pages")
    pages(spark, 300).write.parquet(src)
    real = cli.run_stage_idempotent

    class Stop(Exception):
        pass

    def points_only(spark_, df, key_col, out_path, lineage, stage, *a, **kw):
        if stage != "points":
            raise Stop
        return real(spark_, df, key_col, out_path, lineage, stage, *a, **kw)

    monkeypatch.setattr(cli, "run_stage_idempotent", points_only)
    with pytest.raises(Stop):
        cli.run_pipeline(spark, src, str(tmp_path / "out"), zoom=5, run_id="r1")

    written = []
    frame_cls = type(spark.range(1))
    write = frame_cls.write
    monkeypatch.setattr(frame_cls, "write", property(lambda self: written.append(self) or write.fget(self)))
    with pytest.raises(Stop):
        cli.run_pipeline(spark, src, str(tmp_path / "out"), zoom=5, run_id="r2")
    plan = written[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in plan, plan
    lines = plan.splitlines()
    done = [i for i, ln in enumerate(lines) if ln.lstrip(" :+-").startswith("Filter")
            and "xxhash64(url" in ln and "coalesce" in ln]
    assert len(done) == 1, plan
    i = done[0]
    assert "Relation" in lines[i + 1] and lines[i + 1:] == lines[-1:], plan
    assert any("regexp_extract" in ln for ln in lines[:i]), plan


def test_null_key_stays_pending(spark, tmp_path):
    """A NULL key is never a completed key: every commit writes its
    partition again (replacing it, not duplicating it)."""
    df = _mkdf(spark).withColumn(
        "bucket", F.when(F.col("bucket") != 3, F.col("bucket"))
    )
    lin = L.LineageLog(spark, str(tmp_path / "lineage"))
    out = str(tmp_path / "out")
    s1 = L.run_stage_idempotent(spark, df, "bucket", out, lin, "s", run_id="r1")
    assert s1["keys_processed"] == 10
    done = lin.completed_keys("s")
    assert sorted(done) == sorted(str(k) for k in range(10) if k != 3)
    s2 = L.run_stage_idempotent(spark, df, "bucket", out, lin, "s", run_id="r2")
    assert s2["keys_processed"] == 1
    assert spark.read.parquet(out).count() == 1000
