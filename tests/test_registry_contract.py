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


def test_registry_matches_contract():
    # A fresh interpreter: past DRIVER_WINDOW, load_all's order is the
    # order the operator modules were first imported in, and other test
    # modules import some of them early.
    out = subprocess.run(
        [sys.executable, "-m", "tests.test_registry_contract"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    got = json.loads(out.stdout)
    with open(os.path.join(ROOT, "tests", "registry_contract.json")) as f:
        want = json.load(f)
    assert [n for n, _ in got] == [n for n, _ in want]
    changed = [g[0] for g, w in zip(got, want) if g != w]
    assert not changed, f"oracle SQL changed for: {changed}"


if __name__ == "__main__":
    from ma_anonymization_etl_spark import registry

    rows = [
        [name, hashlib.sha256(q.oracle.encode()).hexdigest() if q.oracle else None]
        for name, q in registry.load_all().items()
    ]
    sys.stdout.write("[\n" + ",\n".join(json.dumps(r) for r in rows) + "\n]\n")
