"""Session defaults of ``utils.get_spark`` that are derived from the machine."""

import os

from mlforecast_spark import utils

GIB = 1 << 30


def test_default_driver_memory_is_sixty_percent_capped():
    assert utils._default_driver_memory(16 * GIB) == f"{int(16 * GIB * 0.6) >> 20}m"
    assert utils._default_driver_memory(15 * GIB) == "9216m"
    # capped at 48g on big machines, at least 1g on tiny ones
    assert utils._default_driver_memory(512 * GIB) == "49152m"
    assert utils._default_driver_memory(GIB) == "1024m"


def test_default_driver_memory_unknown_machine(monkeypatch):
    monkeypatch.setattr(utils, "_memory_limit_bytes", lambda: None)
    assert utils._default_driver_memory() == "8g"


def test_memory_limit_reads_cgroup_limit(tmp_path):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    tight = tmp_path / "memory.max"
    tight.write_text(f"{2 * GIB}\n")
    unlimited = tmp_path / "unlimited"
    unlimited.write_text("max\n")
    missing = tmp_path / "missing"
    assert utils._memory_limit_bytes((str(missing), str(tight))) == min(phys, 2 * GIB)
    assert utils._memory_limit_bytes((str(unlimited),)) == phys
    assert utils._memory_limit_bytes(()) == phys
    # the machine's own reading drives the default
    assert utils._default_driver_memory() == utils._default_driver_memory(
        utils._memory_limit_bytes()
    )
