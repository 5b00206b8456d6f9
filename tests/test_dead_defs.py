"""tools/dead_defs.py over the package source (parsed, never imported; no
Spark session): no top-level def is reached by nothing, the defs only
tests reach are exactly the allowlisted ones, no import goes unused, and
no private module-level binding goes unread."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "dead_defs.py"
)


def _tool():
    spec = importlib.util.spec_from_file_location("dead_defs", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_def_is_reached_by_nothing_and_test_only_defs_are_allowlisted():
    tool = _tool()
    dead, test_only = tool.scan()
    assert dead == []
    assert test_only == sorted(tool.TEST_ONLY_ALLOWED)


def test_no_package_import_is_unused():
    assert _tool().unused_imports() == []


def test_no_private_module_binding_is_unread():
    assert _tool().unread_bindings() == []
