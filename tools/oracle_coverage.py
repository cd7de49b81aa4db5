"""List the oracle-backed registry queries that no recorded correctness
run has checked: those whose name is a key in none of the
``CORRECTNESS_r*.json`` files (each a dict keyed by query name). These are
the queries to run locally against their DuckDB oracle, e.g.
``python -m vena_etl_tool_spark.testing <name> ...`` at sf0.01.

Run: python tools/oracle_coverage.py [artifact_dir]   (default: repo root)
"""

from __future__ import annotations

import glob
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def unchecked(specs: dict, artifact_dir: str) -> list[str]:
    """Oracle-backed names in ``specs`` absent from every artifact file
    under ``artifact_dir``, in registry order."""
    checked: set[str] = set()
    for path in glob.glob(os.path.join(artifact_dir, "CORRECTNESS_r*.json")):
        with open(path) as f:
            checked.update(json.load(f))
    return [n for n, s in specs.items() if s.oracle is not None and n not in checked]


def main(argv: list[str]) -> int:
    sys.path.insert(0, _REPO)
    from vena_etl_tool_spark.registry import all_specs

    names = unchecked(all_specs(), argv[0] if argv else _REPO)
    print("\n".join(names))
    print(f"{len(names)} oracle-backed queries in no CORRECTNESS_r*.json", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
