"""Source lint: one way to cut lineage.

Every ``localCheckpoint``/``checkpoint`` in the package and the query
registry goes through ``functions.pin.pin``, whose docstring holds the
policy (local vs reliable, lazy vs eager, why not ``persist``).  A direct
call anywhere else starts a private copy of that policy.  No Spark session:
the sources are parsed, not run.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PIN_MODULE = ROOT / "htmlcleanup_spark" / "functions" / "pin.py"
CUT_METHODS = {"localCheckpoint", "checkpoint"}


def _sources() -> list[pathlib.Path]:
    return sorted((ROOT / "htmlcleanup_spark").rglob("*.py")) + [
        ROOT / "__spark_entry__.py"
    ]


def _cut_sites(path: pathlib.Path) -> list[str]:
    """``file:line`` of every ``.localCheckpoint``/``.checkpoint``
    attribute in ``path``, called or not."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        "%s:%d" % (path.relative_to(ROOT), node.lineno)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in CUT_METHODS
    ]


def test_lineage_cuts_only_inside_pin():
    stray = [s for p in _sources() if p != PIN_MODULE for s in _cut_sites(p)]
    assert stray == [], "cut lineage through functions.pin.pin: %s" % stray


def test_pin_module_holds_both_cuts():
    """The lint looks for the right spellings: pin itself makes both."""
    assert len(_cut_sites(PIN_MODULE)) == 2
