"""Driver-contract invariants (no Spark needed for most)."""

from __future__ import annotations


def test_registry_shape():
    from panditya_spark.plans import ORACLES, QUERIES

    assert len(QUERIES) >= 37
    assert set(ORACLES) <= set(QUERIES)
    # every query name is a lowercase identifier
    assert all(n == n.lower() and n.isidentifier() for n in QUERIES)


def test_entry_module_contract():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert callable(e.entry)
    assert set(os_) <= set(qs)
    assert all(isinstance(s, str) and "select" in s.lower() for s in os_.values())


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["node", "dist"]


def test_session_defaults_follow_the_host(monkeypatch):
    """get_spark's local[n] and driver heap come from the host: the
    cores this process may run on, and a fifth of physical memory in
    whole GB, clamped to 1g..12g. No session is started."""
    import os

    from panditya_spark.session import host_defaults

    gib = 1 << 30
    page = 4096

    def host(cores, mem_bytes):
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cores)))
        monkeypatch.setattr(
            os,
            "sysconf",
            lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": mem_bytes // page}[name],
        )
        return host_defaults()

    assert host(4, 16479424 * 1024) == (4, "3g")  # a 15.7 GiB, 4-core host
    assert host(32, 256 * gib) == (32, "12g")  # capped at 12g
    assert host(1, 2 * gib) == (1, "1g")  # at least 1g
    assert host(16, 64 * gib) == (16, "12g")
    assert host(8, 30 * gib) == (8, "6g")
    monkeypatch.delattr(os, "sched_getaffinity")
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert host_defaults()[0] == 6
