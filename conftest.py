"""Test-lane selection for every test directory.

Tests marked `slow` are left out of a plain run (`pytest tests/`). They
run under an explicit marker expression (`pytest tests/ -m slow`) or when
named by node id on the command line
(`pytest tests/test_api.py::test_async_job_roundtrip`).
"""

from __future__ import annotations

import os


def _named_node_ids(config) -> list[str]:
    """Command-line arguments that name a test (`path::name`), as node ids
    relative to the root directory."""
    out = []
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep:
            continue
        full = os.path.join(str(config.invocation_params.dir), path)
        rel = os.path.relpath(full, str(config.rootpath)).replace(os.sep, "/")
        out.append(f"{rel}::{rest}")
    return out


def pytest_collection_modifyitems(config, items):
    if config.getoption("markexpr"):
        return
    named = _named_node_ids(config)

    def picked(nodeid: str) -> bool:
        return any(nodeid == n or nodeid.startswith((n + "::", n + "[")) for n in named)

    slow = [i for i in items if i.get_closest_marker("slow") and not picked(i.nodeid)]
    if slow:
        config.hook.pytest_deselected(items=slow)
        dropped = set(map(id, slow))
        items[:] = [i for i in items if id(i) not in dropped]
