"""Compare two run records written by run.py.

    python3 perfbench/compare.py BASE.json NEW.json

Refuses (exit code 2) when the records differ in workload, corpus,
core count or seed; otherwise prints each metric both records carry,
with the change as a share of the base value.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as fh:
            records.append(json.load(fh))
    base, new = records
    try:
        M.comparable(base, new)
    except ValueError as e:
        print(f"not comparable: {e}", file=sys.stderr)
        return 2
    for section in ("end_to_end", "per_layer"):
        a, b = base.get(section) or {}, new.get(section) or {}
        for name in [k for k in a if k in b]:
            change = f"{(b[name] - a[name]) / a[name]:+.1%}" if a[name] else "n/a"
            print(f"{name:32s} {a[name]:>16.6g} {b[name]:>16.6g} {change:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
