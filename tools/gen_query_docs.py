"""Generate QUERIES.md — the operator/query catalog — from the registry.

Usage: python tools/gen_query_docs.py
"""

from __future__ import annotations

import sys
from pathlib import Path

# the checkout this file sits in, whatever the working directory
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from queue_system_simulator_spark.plans import QUERIES, all_oracles  # noqa: E402

HEADER = """# Query catalog

Auto-generated from `queue_system_simulator_spark/plans/` by
`tools/gen_query_docs.py` — do not edit by hand.

Every "oracle" query is callable through `__spark_entry__.queries()` as
`fn(spark, sf_dir)` and DuckDB-SQL-verified (the driver hash-compares
values); "rows-only" marks intentionally non-SQL-expressible paths
(RNG-coupled simulation, engine-specific rand streams, approximate
sketches) — registered and pytest-golden-gated but NOT driver-exposed,
because the driver records oracle-less entries as err:"no_oracle"
(observed rounds 1 and 7).

| # | Query | Check | Description |
|---|---|---|---|
"""


def render() -> str:
    """The catalog text, one row per registered query."""
    oracles = all_oracles()
    lines = [HEADER]
    for i, (name, spec) in enumerate(QUERIES.items(), 1):
        check = "oracle" if name in oracles else "rows-only"
        desc = " ".join(spec.description.split())
        lines.append(f"| {i} | `{name}` | {check} | {desc} |\n")
    lines.append(
        f"\n{len(QUERIES)} queries, {len(oracles)} oracle-checked, "
        f"{len(QUERIES) - len(oracles)} rows-only "
        f"(pytest-gated, not driver-exposed).\n"
    )
    return "".join(lines)


def main() -> None:
    (ROOT / "QUERIES.md").write_text(render())
    print(f"wrote QUERIES.md: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
