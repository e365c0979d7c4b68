"""Driver-heap sizing rule of ``plans.session`` — pure Python, no JVM."""

from mc2skos_spark.plans import session


def _meminfo(tmp_path, monkeypatch, total_kb):
    path = tmp_path / "meminfo"
    path.write_text("MemFree:         1024 kB\n"
                    "MemTotal:       %d kB\n" % total_kb)
    monkeypatch.setattr(session, "_MEMINFO", str(path))


def test_default_heap_capped_at_half_host_memory(tmp_path, monkeypatch):
    gb = 1024 ** 2  # kB per GB
    # a big host keeps the cpu-derived size: 8 GB floor, 16 GB ceiling
    _meminfo(tmp_path, monkeypatch, 256 * gb)
    assert session._default_heap_gb(4) == 8
    assert session._default_heap_gb(20) == 10
    assert session._default_heap_gb(64) == 16
    # a 15.7 GB host: half is 7.85 GB, rounded down to whole GB
    _meminfo(tmp_path, monkeypatch, 16479424)
    assert session._default_heap_gb(4) == 7
    assert session._default_heap_gb(64) == 7
    # a tiny host still gets the 1 GB floor
    _meminfo(tmp_path, monkeypatch, gb)
    assert session._default_heap_gb(4) == 1


def test_default_heap_uncapped_without_meminfo(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "absent"))
    assert session._default_heap_gb(4) == 8
    assert session._default_heap_gb(64) == 16
