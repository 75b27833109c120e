"""Every registered row's DuckDB oracle text is pinned by sha256 in
``tests/oracle_digests.json`` (``null`` for a rows-only check).

A change that means to alter an oracle regenerates the ledger with
``python -m tests.test_oracle_digests`` and says which rows moved; any
other difference fails here, naming the rows. No Spark session needed.
"""

from __future__ import annotations

import hashlib
import json
import os

from emr_with_custom_metrics_spark import registry

LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")


def _digests() -> dict[str, str | None]:
    return {
        name: None if spec.oracle is None else hashlib.sha256(spec.oracle.encode()).hexdigest()
        for name, spec in sorted(registry.all_specs().items())
    }


def test_oracle_texts_match_the_ledger():
    with open(LEDGER) as f:
        pinned = json.load(f)
    now = _digests()
    differ = sorted(n for n in pinned.keys() & now.keys() if pinned[n] != now[n])
    assert not differ, f"oracle text changed for {len(differ)} rows: {differ}"
    assert not (pinned.keys() - now.keys()), f"rows gone: {sorted(pinned.keys() - now.keys())}"
    assert not (now.keys() - pinned.keys()), f"rows not in ledger: {sorted(now.keys() - pinned.keys())}"


if __name__ == "__main__":
    with open(LEDGER, "w") as f:
        json.dump(_digests(), f, indent=1, sort_keys=True)
        f.write("\n")
