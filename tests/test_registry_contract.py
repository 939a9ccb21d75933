"""The driver contract pinned: every registered query's name and the
sha256 of its oracle SQL, in the order a fresh interpreter's
``registry.load_all()`` emits them (the order the driver samples its
correctness window in).

A refactor that renames, drops, adds or reorders a query, or changes
one byte of an oracle, fails here.  Regenerate the file only for a
deliberate contract change:

    python -m tests.test_registry_contract > tests/registry_contract.json
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _emitted(first_import: str = "") -> list:
    """The contract rows a fresh interpreter prints, after importing
    ``first_import`` (a module) when one is given."""
    code = "import runpy; runpy.run_module('tests.test_registry_contract', run_name='__main__')"
    if first_import:
        code = f"import {first_import}; {code}"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout)


def _contract() -> list:
    with open(os.path.join(ROOT, "tests", "registry_contract.json")) as f:
        return json.load(f)


def test_registry_matches_contract():
    # A fresh interpreter, so the check does not rest on what other
    # test modules imported into this process.
    got, want = _emitted(), _contract()
    assert [n for n, _ in got] == [n for n, _ in want]
    changed = [g[0] for g, w in zip(got, want) if g != w]
    assert not changed, f"oracle SQL changed for: {changed}"


def test_registry_order_does_not_depend_on_import_order():
    """A process that imports an operator module before its first
    ``load_all()`` (here operators.llm, which a test module or a
    notebook may import at the top) gets the contract order too."""
    got = _emitted("ma_anonymization_etl_spark.operators.llm")
    assert [n for n, _ in got] == [n for n, _ in _contract()]


if __name__ == "__main__":
    from ma_anonymization_etl_spark import registry

    rows = [
        [name, hashlib.sha256(q.oracle.encode()).hexdigest() if q.oracle else None]
        for name, q in registry.load_all().items()
    ]
    sys.stdout.write("[\n" + ",\n".join(json.dumps(r) for r in rows) + "\n]\n")
