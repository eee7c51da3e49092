"""Plan the driver's 50-slot correctness window for the next round.

The round driver records only the FIRST ~50 ``queries()`` entries in
declaration order, so each round we move the queries that most need
fresh driver evidence to the front:

1. queries with NO green driver evidence yet (never-run or red), in
   current declaration order;
2. then everything else oldest-last-green-round first.

Prints the 50-name window as a Python list literal ready to paste into
``__spark_entry__._WINDOW_ORDER`` (in the query-registry section at the
top of the queries, beside ``query`` and ``queries()``), plus the
staleness distribution. Reads the checkout this script lives in.

Usage: python tools/plan_window.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    qs = list(entrymod.queries().keys())
    evid: dict[str, list[tuple[int, bool]]] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        data = json.load(open(path))
        entries = data.get("queries", data) if isinstance(data, dict) else {}
        for name, v in entries.items():
            if isinstance(v, dict):
                ok = (
                    v.get("hash_match", False)
                    and v.get("rows_match", False)
                    and not v.get("err")
                )
                evid.setdefault(name, []).append((rnd, ok))

    last_green = {
        name: max((r for r, ok in hist if ok), default=0)
        for name, hist in evid.items()
    }
    order = sorted(
        qs, key=lambda name: (last_green.get(name, 0), qs.index(name))
    )
    window = order[:50]

    from collections import Counter

    dist = Counter(last_green.get(name, 0) for name in qs)
    print(f"# {len(qs)} queries; last-green distribution {dict(sorted(dist.items()))}")
    print(f"# window covers staleness <= r{last_green.get(window[-1], 0):02d};")
    print(f"# first slot outside: {order[50] if len(order) > 50 else '-'}")
    print("_WINDOW_ORDER = [")
    for name in window:
        print(f'    "{name}",  # last green r{last_green.get(name, 0):02d}')
    print("]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
