"""The driver contract is frozen: the purge of library code must not move
an entry or change an oracle.

``tests/fixtures/catalog_contract.json`` records the key order of
``__spark_entry__.queries()`` and ``oracle_sql()`` plus the sha256 of
every oracle SQL string. Regenerate it (only when an entry or oracle is
meant to change) with ``python tests/test_catalog_contract.py``.
"""

import hashlib
import importlib.util
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FIXTURE = Path(__file__).resolve().parent / "fixtures" / "catalog_contract.json"


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "_contract_spark_entry", ROOT / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _snapshot():
    mod = _entry_module()
    oracles = mod.oracle_sql()
    return {
        "queries": list(mod.queries()),
        "oracles": list(oracles),
        "oracle_sha256": {
            k: hashlib.sha256(sql.encode()).hexdigest()
            for k, sql in oracles.items()
        },
    }


def test_catalog_contract_frozen():
    want = json.loads(FIXTURE.read_text())
    got = _snapshot()
    assert got["queries"] == want["queries"]
    assert got["oracles"] == want["oracles"]
    changed = sorted(k for k in want["oracle_sha256"]
                     if got["oracle_sha256"].get(k) != want["oracle_sha256"][k])
    assert not changed, f"oracle SQL changed: {changed}"
    assert got["oracle_sha256"] == want["oracle_sha256"]


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(ROOT))
    FIXTURE.parent.mkdir(exist_ok=True)
    FIXTURE.write_text(json.dumps(_snapshot(), indent=1) + "\n")
    print(f"wrote {FIXTURE}")
