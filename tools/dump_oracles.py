"""Write every registered query's rendered DuckDB oracle to a JSON file.

The file is ``plans.all_oracles()``, the ``{name: oracle SQL}`` map of
every oracle-backed query, as sorted, indented JSON, so a refactor of the
oracle text proves it renders the same bytes with ``cmp``::

    python tools/dump_oracles.py before.json      # in the parent checkout
    python tools/dump_oracles.py after.json       # in the change
    cmp before.json after.json

Importing the registry starts no JVM.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

# the checkout this file sits in, whatever the working directory
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def dump(out: Path) -> int:
    from queue_system_simulator_spark.plans import all_oracles

    oracles = all_oracles()
    out.write_text(json.dumps(oracles, indent=1, sort_keys=True) + "\n")
    return len(oracles)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python tools/dump_oracles.py <out.json>")
    print(f"{dump(Path(sys.argv[1]))} oracles")
