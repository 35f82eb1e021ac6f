"""PIP join vs brute-force oracle, incl. analytic edge polygons and
the salted-path-identical invariant (FIXTURES.md §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.operators.pip_join import pip_join
from fujishadergpu_spark.sources.polygons import polygon_rows, polygons
from tests.conftest import raycast_oracle


@pytest.fixture(scope="module")
def oracle_pairs(points_df):
    pdf = points_df.toPandas()
    px, py, ids = pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), pdf["id"].to_numpy()
    exp = set()
    for pid, name, kind, ring in polygon_rows():
        for i in ids[raycast_oracle(px, py, ring)]:
            exp.add((int(i), pid))
    return exp


def test_pip_matches_oracle(spark, points_df, oracle_pairs):
    got = set(map(tuple, pip_join(points_df, polygons(spark), res=6).select("id", "polygon_id").collect()))
    assert got == oracle_pairs


def test_pip_res_invariant(spark, points_df, oracle_pairs):
    """Bucketing resolution is a physical knob — result must not change."""
    got = set(map(tuple, pip_join(points_df, polygons(spark), res=4).select("id", "polygon_id").collect()))
    assert got == oracle_pairs


def test_pip_salted_identical(spark, points_df, oracle_pairs):
    got = set(
        map(
            tuple,
            pip_join(
                points_df, polygons(spark), res=6,
                broadcast_build=False, salt=8, point_salt_col="id",
            ).select("id", "polygon_id").collect(),
        )
    )
    assert got == oracle_pairs


def test_pip_analytic_edges(spark):
    """Point-on-vertex / on-edge / concave notch / sliver (FIXTURES.md §2c)."""
    pts = spark.createDataFrame(
        [
            (1, 0.0, 0.0),    # exactly on grid + edge_vertex corner -> inside
            (2, 1.0, 0.5),    # on vertical edge of edge_vertex (lat=1? no: lat,lon)
            (3, 6.0, 8.0),    # inside concave body
            (4, 8.0, 6.0),    # inside the notch -> NOT in concave polygon
            (5, -9.9995, 0.0),  # inside the sliver band
            (6, 15.0, -25.0),   # inside edge_bigband
        ],
        "id long, lat double, lon double",
    )
    pol = polygons(spark).filter(F.col("kind") == "sliver")
    got = set(map(tuple, pip_join(pts, pol, res=5).select("id", "name").collect()))
    assert (1, "edge_vertex") in got
    assert (3, "edge_concave") in got
    assert (4, "edge_concave") not in got
    assert (5, "edge_sliver") in got
    assert (6, "edge_bigband") in got


def test_pip_plan_is_broadcast(spark, points_df):
    """Small build side must broadcast (no shuffle of the point table)."""
    plan = pip_join(points_df, polygons(spark), res=6)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def _ring(*pts):
    return [{"lon": float(a), "lat": float(b)} for a, b in pts]


def test_antimeridian_ring_rejected(spark):
    """A crossing ring's lon-bbox cover would silently drop matches —
    the precondition is checked, not assumed (ADVICE r1)."""
    import pytest

    from fujishadergpu_spark.operators.pip_join import polygon_cover

    bad = spark.createDataFrame(
        [(1, _ring((170, 0), (-170, 0), (-170, 10), (170, 10)))],
        "polygon_id long, ring array<struct<lon:double,lat:double>>",
    )
    with pytest.raises(Exception, match="antimeridian"):
        polygon_cover(bad, 5).count()


def test_index_table_mismatch_raises(spark):
    """pip_join with an index built from a DIFFERENT polygon table must
    fail loudly, not ray-cast against the wrong ring (ADVICE r1)."""
    import pytest

    from fujishadergpu_spark.operators.pip_join import PipIndex, pip_join

    good = spark.createDataFrame(
        [(1, _ring((0, 0), (10, 0), (10, 10), (0, 10)))],
        "polygon_id long, ring array<struct<lon:double,lat:double>>",
    )
    other = spark.createDataFrame(
        [(99, _ring((0, 0), (10, 0), (10, 10), (0, 10)))],
        "polygon_id long, ring array<struct<lon:double,lat:double>>",
    )
    pts = spark.createDataFrame([(1, 5.0, 5.0)], "id long, lat double, lon double")
    with pytest.raises(Exception, match="not in index"):
        pip_join(pts, other, index=PipIndex(good)).count()


def test_empty_polygon_table_joins_to_nothing(spark, points_df):
    """An empty polygon table is a valid input: the index builds and
    the join returns zero rows."""
    from fujishadergpu_spark.operators.pip_join import PipIndex

    empty = spark.createDataFrame(
        [], "polygon_id long, ring array<struct<lon:double,lat:double>>"
    )
    assert PipIndex(empty).ring_rows == []
    assert pip_join(points_df, empty).count() == 0
    assert pip_join(points_df, empty, index=PipIndex(empty, res=5)).count() == 0


def test_repeat_pip_query_issues_no_driver_jobs(spark):
    """r3 verdict wrong #1: the registry path used to rebuild the
    PipIndex (auto_res median + ring collect — two driver jobs) on
    every invocation. With the per-(table, res) cache, constructing
    the query plan a second time must launch ZERO Spark jobs."""
    from fujishadergpu_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    Q.geo_pip_zones(spark, sf)  # first construction may build the index
    sc = spark.sparkContext
    sc.setJobGroup("pip_repeat_probe", "repeat pip_join construction")
    try:
        Q.geo_pip_zones(spark, sf)  # plan construction only, no action
        Q.geo_pip_zones_salted(spark, sf)
    finally:
        sc.setJobGroup(None, None)
    st = sc.statusTracker()
    # spark.read.parquet fires a footer/schema-inference job per fresh
    # DataFrame ("parquet at ..." stages) — that is the scan API, not
    # the index. The pin: NO computation jobs (auto_res median /
    # ring collect) on repeat calls.
    compute_stages = []
    for j in st.getJobIdsForGroup("pip_repeat_probe"):
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = st.getStageInfo(s)
            if si and not si.name.startswith("parquet at"):
                compute_stages.append(si.name)
    assert compute_stages == [], f"repeat pip query launched compute jobs: {compute_stages}"


def test_salted_plan_shape_smj_on_salt_key(spark, points_df):
    """r3 verdict #10 plan pin: the salted skew path must be a
    SortMergeJoin whose keys include the salt column (build replicated
    S ways, probes bucketed) — no broadcast, no cartesian."""
    from fujishadergpu_spark.sources.polygons import polygons as mkpol

    pol = mkpol(spark)
    plan = pip_join(
        points_df, pol, res=5, broadcast_build=False, salt=8, point_salt_col="id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "_salt" in plan
    assert "BroadcastHashJoin" not in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_pip_degenerate_points_match_oracle(spark):
    """NULL, NaN, out-of-range, pole and antimeridian points against
    the brute-force ray cast, with rings that touch both poles and both
    sides of the antimeridian. A NULL coordinate has no cell; a NaN one
    casts to cell 0 in Spark, and the ray cast rejects it there; an
    out-of-range point lands in a clamped or wrapped cell and matches
    nothing; a point at lon = 180 wraps to column 0, which a ring
    reaching the antimeridian must also cover."""
    from fujishadergpu_spark.sources.polygons import RING_SCHEMA

    def rect(x0, y0, x1, y1):
        return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]

    nan = float("nan")
    rows = [
        (35.0, 139.0), (0.5, 0.5),  # ordinary points
        (None, 139.0), (35.0, None), (None, None),  # NULL coordinates
        (nan, 10.0), (10.0, nan), (nan, nan),  # NaN coordinates
        (95.0, 20.0), (-91.0, -30.0), (0.0, 200.0), (1.0, -190.0), (0.5, 360.5),  # out of range
        (90.0, 0.0), (-90.0, 0.0), (85.0, 5.0), (-85.0, 5.0),  # poles
        (5.0, 180.0), (5.0, -180.0), (90.0, 180.0), (-90.0, -180.0),  # antimeridian
    ]
    rings = polygon_rows() + [
        (1000, "north_cap", "edge", rect(-10.0, 80.0, 10.0, 90.0)),
        (1001, "south_cap", "edge", rect(-10.0, -90.0, 10.0, -80.0)),
        (1002, "east_edge", "edge", rect(170.0, 0.0, 180.0, 10.0)),
        (1003, "west_edge", "edge", rect(-180.0, 0.0, -170.0, 10.0)),
    ]
    pol = spark.createDataFrame(
        [(pid, n, k, [{"lon": x, "lat": y} for x, y in r]) for pid, n, k, r in rings], RING_SCHEMA
    )
    pts = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, lat double, lon double"
    )
    lat = np.array([nan if a is None else a for a, _ in rows])
    lon = np.array([nan if b is None else b for _, b in rows])
    exp = {
        (int(i), pid) for pid, _, _, ring in rings
        for i in np.flatnonzero(raycast_oracle(lon, lat, ring))
    }
    # every degenerate class that can match does: both caps, both edges
    assert {pid for _, pid in exp} >= {1000, 1001, 1002, 1003}
    for res in (None, 3, 6):
        got = set(map(tuple, pip_join(pts, pol, res=res).select("id", "polygon_id").collect()))
        assert got == exp, res
