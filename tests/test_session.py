"""Session defaults must start on the host they run on."""

from __future__ import annotations

import os

from kbgen_spark import session


def test_default_driver_heap_fits_host_and_is_not_pretouched():
    ram_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    assert 0 < session._default_driver_mem_mb() <= ram_mb
    assert "-Xms" not in session.DEFAULT_DRIVER_JAVA_OPTS
    assert "AlwaysPreTouch" not in session.DEFAULT_DRIVER_JAVA_OPTS
