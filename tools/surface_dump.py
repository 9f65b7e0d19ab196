"""Dump the driver-visible query surface as JSON, so a refactor that must
not change it can be checked by comparing two dumps byte for byte:

    python tools/surface_dump.py [REPO_ROOT] > after.json
    python tools/surface_dump.py /path/to/parent/checkout > before.json
    cmp before.json after.json

The dump holds ``list(queries())``, ``oracle_sql()`` in order, the
members of each warm-up tag and every query's fingerprint. The package
is imported from REPO_ROOT (default: this checkout); the fingerprint
formula is always this checkout's ``gen_driver_order.query_fingerprint``,
so both trees are hashed the same way.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from gen_driver_order import query_fingerprint  # noqa: E402


def main() -> None:
    root = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else None
    if root:
        sys.path.insert(0, root)
    from python_etl_sample_spark.api import oracle_sql, queries
    from python_etl_sample_spark.registry import REGISTRY, WARM_TAGS

    names = list(queries())
    if root:
        assert all(
            s.fn.__code__.co_filename.startswith(root + os.sep)
            for s in REGISTRY.values()
        ), f"package not imported from {root}"
    dump = {
        "queries": names,
        "oracle_sql": list(oracle_sql().items()),
        "warm_tags": {
            t: sorted(n for n, s in REGISTRY.items() if t in s.tags) for t in WARM_TAGS
        },
        "fingerprints": {n: query_fingerprint(REGISTRY[n]) for n in sorted(REGISTRY)},
    }
    json.dump(dump, sys.stdout, indent=0)
    sys.stdout.write("\n")


if __name__ == "__main__":
    main()
