"""The query contract as a registry merge (Spark-free).

``oracle_manifest.json`` freezes the contract: the sorted ``queries()``
names and the sha256 of every ``oracle_sql()`` text at sf0.001, with the
data root replaced by a placeholder so any checkout hashes the same.
Change it only on purpose, by running this file as a script.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

MANIFEST = Path(__file__).resolve().parent / "oracle_manifest.json"


def contract() -> dict:
    import __spark_entry__ as entry
    from otlp_cardinality_checker_spark.datagen import DATA_ROOT

    root = str(DATA_ROOT)
    return {
        "queries": sorted(entry.queries()),
        "oracles": {
            name: hashlib.sha256(
                sql.replace(root, "<DATA_ROOT>").encode()
            ).hexdigest()
            for name, sql in sorted(entry.oracle_sql().items())
        },
    }


def test_oracle_texts_match_manifest(monkeypatch):
    from registry.common import SF001

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF", SF001)
    want = json.loads(MANIFEST.read_text())
    got = contract()
    assert got["queries"] == want["queries"]
    changed = sorted(
        name
        for name in set(got["oracles"]) | set(want["oracles"])
        if got["oracles"].get(name) != want["oracles"].get(name)
    )
    assert not changed, f"oracle texts differ from the manifest: {changed}"


def test_merge_rejects_a_name_defined_twice(monkeypatch):
    import __spark_entry__ as entry
    from registry import events, routed

    monkeypatch.setattr(
        events,
        "RECORDS",
        {**events.RECORDS, "route_counts": routed.RECORDS["route_counts"]},
    )
    with pytest.raises(ValueError, match="'route_counts'.*routed.*events"):
        entry.queries()
    with pytest.raises(ValueError, match="'route_counts'"):
        entry.oracle_sql()


if __name__ == "__main__":
    import os

    from registry.common import SF001

    os.environ["SPARK_GRAFT_ORACLE_SF"] = SF001
    MANIFEST.write_text(json.dumps(contract(), indent=1) + "\n")
