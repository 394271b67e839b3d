"""Inventory of the environment variables ccspark reads.

Every ``CCSPARK_*`` name in the package is an independent knob that a
run can silently depend on, so the set is pinned here: adding one means
updating this test on purpose."""

from __future__ import annotations

import pathlib
import re

KNOBS = {"CCSPARK_DRIVER_MEM", "CCSPARK_CHECK_UNIQUE_URLS"}


def test_ccspark_env_knob_inventory():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "ccspark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        for name in re.findall(r"CCSPARK_[A-Z_]+", path.read_text()):
            found.setdefault(name, path.relative_to(pkg.parent).as_posix())
    assert set(found) == KNOBS, found
