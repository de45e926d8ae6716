"""Result fingerprints: what a key's result must hash to.

A fingerprint is the sorted column names, each column's DuckDB oracle type,
the row count and the SHA-256 of the canonical rows. A result is compared
with it the way the correctness gate compares a Spark result with its
DuckDB oracle (``scripts/driver_sim.py``), using the gate's own helpers from
``tests/conftest.py``: the engine type kinds must agree, then the column
names, the row count and the canonical rows (columns in name order, cells
rendered strictly, rows sorted).

The oracles are too slow to run on every benchmark run, so their
fingerprints are computed once and stored in ``fingerprints.json``.
Regenerate them after the bundled data or a workload's keys change:

    python3 perfbench/fingerprint.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def _gate():
    """``tests/conftest.py``, imported on first use (it imports the engine,
    so it must not load before the run has set Spark's environment)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tests import conftest

    return conftest


def fingerprint(cols: list[str], rows) -> dict:
    lines = _gate().canonical_rows(cols, rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"columns": sorted(cols), "rows": len(lines), "sha256": digest}


def mismatch(key: str, expected: dict | None, df) -> str | None:
    """Why the result ``df`` differs from the stored fingerprint, or None if
    it matches. A type-kind mismatch raises AssertionError, as in the gate."""
    if expected is None:
        return "no stored fingerprint"
    types = expected["types"]
    _gate().assert_engine_type_kinds(df, list(types), list(types.values()), name=key)
    got = fingerprint(list(df.columns), [tuple(r) for r in df.collect()])
    for field in ("columns", "rows", "sha256"):
        if expected[field] != got[field]:
            return f"{field}: expected {expected[field]!r}, got {got[field]!r}"
    return None


def load() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def main() -> int:
    """Run every workload key's DuckDB oracle over the bundled tables and
    store the fingerprints."""
    import time

    gate = _gate()
    from sparkstreamingstateful_spark import registry
    from workloads import WORKLOADS

    _, oracles = registry.collect()
    out: dict[str, dict] = {}
    for sf in sorted({w.sf for w in WORKLOADS.values()}):
        con = gate._duck_con(os.path.join(HERE, "data", sf))
        keys = sorted({k for w in WORKLOADS.values() if w.sf == sf for k in w.keys})
        out[sf] = {}
        for key in keys:
            t0 = time.perf_counter()
            cols, types, rows = gate.fetch_oracle(con, oracles[key])
            out[sf][key] = {**fingerprint(cols, rows), "types": dict(zip(cols, types))}
            print(f"{sf} {key}: {len(rows)} rows [{time.perf_counter() - t0:.1f}s]", flush=True)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
