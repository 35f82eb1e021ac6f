"""Session conf assembly, checked without starting a JVM: the
caller's extra_confs are merged before the heap pre-touch options,
which are left out when the caller owns the heap or the host has less
RAM than the heap."""

import pytest

from fujishadergpu_spark import session

JOPT = "spark.driver.extraJavaOptions"


@pytest.mark.parametrize("extra,phys_gb,pretouch", [
    ({}, 64, True),
    ({"spark.sql.shuffle.partitions": "8"}, 64, True),
    ({"spark.driver.memory": "4g"}, 64, False),   # was -Xms24g -Xmx4g
    ({JOPT: "-XX:+UseG1GC"}, 64, False),
    ({}, 15, False),                              # 24g cannot be committed
])
def test_pretouch_only_when_the_default_heap_fits(monkeypatch, extra, phys_gb, pretouch):
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "1")
    monkeypatch.setattr(session, "_phys_mem_bytes", lambda: phys_gb << 30)
    confs = session._session_confs(extra)
    for k, v in extra.items():
        assert confs[k] == v
    assert confs["spark.driver.memory"] == extra.get("spark.driver.memory", "24g")
    if pretouch:
        assert confs[JOPT].startswith("-Xms24g -XX:+AlwaysPreTouch ")
    else:
        assert confs.get(JOPT) == extra.get(JOPT)


def test_pretouch_off_is_defaults_then_extra(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", "0")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setattr(session, "_phys_mem_bytes", lambda: 64 << 30)
    extra = {"spark.sql.shuffle.partitions": "8", "spark.driver.memory": "4g"}
    want = {**session.DEFAULT_CONFS, "spark.sql.shuffle.partitions": "32"}
    if session._local_dirs():
        want["spark.local.dir"] = session._local_dirs()
    assert session._session_confs(extra) == {**want, **extra}
