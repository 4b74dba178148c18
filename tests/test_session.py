"""The default driver heap of ``session.get_spark``, without starting
Spark: half the memory the process may use, capped at 48g."""

import pytest

from deltaforge_spark import session

GIB = 1 << 30


@pytest.fixture()
def host(monkeypatch, tmp_path):
    """Set the host's physical RAM and the cgroup limit files' contents
    (None: file absent) for ``_default_driver_memory``."""

    def configure(phys_bytes, v2=None, v1=None):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        paths = []
        for name, raw in (("memory.max", v2), ("memory.limit_in_bytes", v1)):
            path = tmp_path / name
            if raw is not None:
                path.write_text(raw + "\n")
            paths.append(str(path))
        monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", tuple(paths))

    return configure


def test_half_of_physical_ram_without_a_cgroup_limit(host):
    host(16 * GIB)
    assert session._default_driver_memory() == "8192m"


def test_half_of_a_cgroup_v2_limit(host):
    host(64 * GIB, v2=str(12 * GIB))
    assert session._default_driver_memory() == "6144m"


def test_unset_cgroup_v2_limit_falls_back_to_physical_ram(host):
    host(16 * GIB, v2="max", v1=str(2 * GIB))
    assert session._default_driver_memory() == "8192m"


def test_half_of_a_cgroup_v1_limit(host):
    host(64 * GIB, v1=str(4 * GIB))
    assert session._default_driver_memory() == "2048m"


def test_unset_cgroup_v1_limit_is_a_huge_number(host):
    host(16 * GIB, v1="9223372036854771712")
    assert session._default_driver_memory() == "8192m"


def test_capped_at_48g(host):
    host(512 * GIB)
    assert session._default_driver_memory() == "49152m"
