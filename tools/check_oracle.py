"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at a given
scale factor and compares row count, column names, and an order-insensitive
value hash.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

# the checkout this file sits in, whatever the working directory
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from queue_system_simulator_spark.schema import TABLE_NAMES  # noqa: E402
from queue_system_simulator_spark.session import get_spark  # noqa: E402


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return repr(v)
    return str(v)


def _sorted_lines(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    lines = _sorted_lines(cols, rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), ",".join(sorted(cols)), h


def _norm_spark_dtype(dt: str) -> str:
    """Collapse a Spark simpleString dtype to a cross-engine class."""
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith("timestamp"):
        return "ts"
    if dt.startswith("array"):
        return "list"
    if dt.startswith(("map", "struct")):
        return "nested"
    return {"string": "str", "boolean": "bool", "date": "date",
            "binary": "bin"}.get(dt, dt)


def _norm_duck_dtype(dt: str) -> str:
    """Collapse a DuckDB type name to the same cross-engine class.

    HUGEINT and DECIMAL deliberately do NOT map to "int": the driver's
    hasher is type-sensitive, and an uncast DuckDB sum() (HUGEINT) vs a
    Spark BIGINT was an actual round-1 driver FAIL that the old
    stringifying comparison missed.
    """
    dt = dt.upper()
    if dt.endswith("[]"):
        return "list"
    if dt in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
              "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if dt == "HUGEINT":
        return "hugeint"
    if dt in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if dt.startswith("DECIMAL"):
        return "decimal"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    if dt.startswith(("MAP", "STRUCT")):
        return "nested"
    return {"VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date",
            "BLOB": "bin"}.get(dt, dt.lower())


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_query(spark, con, spec, sf_dir: str) -> tuple[str, str]:
    """Run one registered query on Spark and its oracle on ``con``.

    Returns ``(status, detail)``: status is ``PASS``, ``FAIL`` or ``ok*``
    (rows-only, no oracle); detail is the line printed after the name,
    with the first differing rows appended on a value mismatch.
    """
    t0 = time.time()
    try:
        sdf = spec.build(spark, sf_dir)
        scols = sdf.columns
        stypes = {c: _norm_spark_dtype(t) for c, t in sdf.dtypes}
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return "FAIL", f"spark error: {e}"
    if spec.oracle is None:
        detail = (f"rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
        if not srows:
            detail += f"\nWARN  {spec.name}: 0 rows"
        return "ok*", detail
    try:
        rel = con.sql(spec.oracle)
        dcols = rel.columns
        dtypes = {c: _norm_duck_dtype(str(t))
                  for c, t in zip(rel.columns, rel.types)}
        drows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return "FAIL", f"duckdb error: {e}"
    sn, sc, sh = frame_fingerprint(scols, srows)
    dn, dc, dh = frame_fingerprint(dcols, drows)
    type_ok = stypes == dtypes
    status = "PASS" if (sn, sc, sh) == (dn, dc, dh) and type_ok else "FAIL"
    detail = (f"spark({sn} rows, {sh}) duckdb({dn} rows, {dh}) "
              f"{time.time()-t0:.1f}s")
    if status == "FAIL":
        if not type_ok:
            bad = {c: (stypes.get(c), dtypes.get(c))
                   for c in set(stypes) | set(dtypes)
                   if stypes.get(c) != dtypes.get(c)}
            detail += f"\n      dtype mismatch (spark, duck): {bad}"
        if sc != dc:
            detail += f"\n      cols spark={sc}\n      cols duck ={dc}"
        elif sn == dn:
            # show first differing rows for debugging
            pairs = zip(_sorted_lines(scols, srows), _sorted_lines(dcols, drows))
            for a, b in [(a, b) for a, b in pairs if a != b][:3]:
                detail += f"\n      spark: {a}\n      duck : {b}"
    return status, detail


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from queue_system_simulator_spark.plans import QUERIES

    spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)
    failures: list[str] = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        # same hygiene as bench.py: queries cache intermediates; dropping
        # them + nudging the JVM keeps cleanup debt from inflating later
        # queries in this long single-session sweep
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        status, detail = compare_query(spark, con, spec, sf_dir)
        print(f"{status:<6}{name}: {detail}")
        if status == "FAIL":
            failures.append(name)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
