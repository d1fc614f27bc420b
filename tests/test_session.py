"""Session defaults that depend on the host."""

from jvector_spark.session import default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_driver_memory_sized_from_host(tmp_path):
    """40% of MemTotal, capped at 16g; 16g when the host reports nothing."""
    gib = 1 << 20  # kB per GiB
    assert default_driver_memory(_meminfo(tmp_path, 15 * gib)) == "6144m"
    assert default_driver_memory(_meminfo(tmp_path, 40 * gib)) == "16384m"
    assert default_driver_memory(_meminfo(tmp_path, 256 * gib)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16384m"
    (tmp_path / "garbled").write_text("MemTotal: lots\n")
    assert default_driver_memory(str(tmp_path / "garbled")) == "16384m"
