"""Print the driver-check rotation as a tagged table.

The order is ``__spark_entry__.rotation_order`` over the registered
queries, which is the order ``queries()``/``oracle_sql()`` serve:

    1. driver-RED rows (must re-check green after their fix)
    2. never-driver-checked rows (new queries)
    3. everything else, oldest-last-check first (alphabetical per tier)

Each row is tagged RED, NEW or the round of its last driver check; a
marker shows where the driver's 50-query cap falls.

Usage:  python tools/plan_rotation.py
"""

from __future__ import annotations

import sys
from pathlib import Path


def main() -> int:
    repo = str(Path(__file__).resolve().parent.parent)
    if repo not in sys.path:
        sys.path.insert(0, repo)
    import __spark_entry__ as em

    order, last, red = em.rotation_order(list(em.queries()))
    n_never = sum(1 for n in order if last[n] == 0 and n not in red)
    try:
        print(f"# {len(red)} red, {n_never} never-checked, "
              f"{len(order) - len(red) - n_never} by last-check age; "
              "driver cap is 50")
        for i, n in enumerate(order):
            tag = (
                "RED" if n in red
                else ("NEW" if last[n] == 0 else f"r{last[n]:02d}")
            )
            marker = " | <- cap boundary" if i == 50 else ""
            print(f"{i + 1:3d}. [{tag}] {n}{marker}")
    except BrokenPipeError:  # head/tail closed the pipe — fine
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
