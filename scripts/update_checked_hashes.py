"""Regenerate tests/checked_hashes.json — the rotation-policy manifest.

The manifest records, per registered query, two hashes *as of the last
round the query sat in the correctness gate's window*
(``registry.PRIORITY``):

- ``v2``: the plan function's source, its oracle SQL and the source of
  every package-local helper it references. The pinned test
  ``tests/test_registry.py::test_changed_queries_enter_driver_window``
  asserts that any query whose current v2 hash differs from its stamp
  is in the CURRENT window, i.e. any query whose plan changes in a
  round enters that round's window.
- ``v1``: the plan function's own source and oracle only, no closure
  walk (``tests/query_hashes.py``).

Run this when rotating PRIORITY for a new round, AFTER the rotation:

    python scripts/update_checked_hashes.py            # window names
    python scripts/update_checked_hashes.py --bootstrap  # all names

The default stamps only the queries in the current window, since those
are the ones the coming gate round verifies at current code.
``--bootstrap`` stamps every registered query (first run, or after an
intentional full re-baseline — a shared-helper change that flips every
closure hash). It refuses to run while any NON-window query's v1 hash
has drifted from its stamp, because restamping such a row would mark a
real plan change as verified when the gate never saw it.
Rows whose v1 legitimately changed belong in the current window, not in
a bootstrap.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from lms_erp_data_integration_spark import plans  # noqa: E402
from lms_erp_data_integration_spark.plans import registry  # noqa: E402
from tests.query_hashes import (  # noqa: E402
    MANIFEST_PATH,
    query_source_hash,
    query_v1_hash,
)


def _load() -> dict:
    try:
        with open(MANIFEST_PATH) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _write(manifest: dict) -> None:
    rows = [
        f" {json.dumps(n)}: {json.dumps(manifest[n])}"
        for n in sorted(manifest)
        if n in plans.QUERIES
    ]
    with open(MANIFEST_PATH, "w") as f:
        f.write("{\n" + ",\n".join(rows) + "\n}\n")


def main() -> int:
    bootstrap = "--bootstrap" in sys.argv[1:]
    manifest = _load()
    if bootstrap:
        drifted = [
            n
            for n in plans.QUERIES
            if n not in registry.PRIORITY
            and "v1" in manifest.get(n, {})
            and manifest[n]["v1"] != query_v1_hash(n)
        ]
        if drifted:
            print(
                "REFUSING --bootstrap: plan-function source changed for "
                "queries OUTSIDE the current driver window — restamping "
                "them would fake driver verification. Add them to "
                f"registry.PRIORITY first: {drifted}"
            )
            return 1
    names = list(plans.QUERIES) if bootstrap else list(registry.PRIORITY)
    for name in names:
        manifest[name] = {
            "v2": query_source_hash(name),
            "v1": query_v1_hash(name),
        }
    _write(manifest)
    print(f"stamped {len(names)} queries -> {MANIFEST_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
