"""Local replica of the driver's t2 correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

``--json`` writes the per-query results in the driver's
CORRECTNESS_r{N}.json shape. The driver records only the first 50
``queries()`` entries (observed in round 5); this artifact, committed
as ``CORRECTNESS_LOCAL_r{N}.json``, is the full-coverage record for
the entries past that horizon.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from datetime import datetime
from decimal import Decimal

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: entries DELIBERATELY without a value oracle (genuinely
#: non-SQL-expressible ops get a rows-only driver record); empty today
ROWS_ONLY_OK: set[str] = set()


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    out = [tuple(str(_norm(r[c])) for c in cols) for r in rows]
    return sorted(out)


def driver_canon_probe(rows: list[dict], cols: list[str]) -> None:
    """Reproduce the driver's canonicalizer — a pandas ``sort_values``
    over the RAW column values (no stringification) — so any output
    shape the driver cannot hash (array/map cells -> ``unhashable
    type: 'list'``) fails HERE first. Round 6 shipped two entries the
    stringifying :func:`canon` above happily sorted while the driver
    crashed; this probe closes that fidelity gap."""
    import pandas as pd

    df = pd.DataFrame(rows or [], columns=sorted(cols))
    df.sort_values(by=list(df.columns))


def complex_typed_cols(sdf) -> list[str]:
    """Columns the driver's pandas canon can never sort — entries must
    explode these to scalar rows before returning."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    record: dict[str, dict] = {}

    from toshokan_spark.session import local_session

    spark = local_session(
        "check_oracle", conf={"spark.sql.shuffle.partitions": "16"}
    )
    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    rows_only: list[str] = []
    def rec(name, **kw):
        base = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        base.update(kw)
        record[name] = base

    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            rows_only.append(name)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            rec(name, err=f"spark error: {e}")
            print(f"FAIL  {name}: spark error: {e}")
            continue
        dt = time.time() - t0
        bad_cols = complex_typed_cols(sdf)
        if bad_cols:
            failures.append(name)
            rec(name, spark_rows=len(srows),
                err=f"complex-typed output columns {bad_cols}")
            print(f"FAIL  {name}: array/map/struct output columns "
                  f"{bad_cols} — driver canon cannot sort these")
            continue
        try:
            driver_canon_probe(srows, sdf.columns)
        except Exception as e:
            failures.append(name)
            rec(name, spark_rows=len(srows),
                err=f"driver canon crash: {e}")
            print(f"FAIL  {name}: driver canon crash: {e}")
            continue
        if name not in oracles:
            rec(name, spark_rows=len(srows), err="rows-only (no oracle)")
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only) [{dt:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = [d[0] for d in ddf.description]
            drows = [dict(zip(dcols, row)) for row in ddf.fetchall()]
        except Exception as e:
            failures.append(name)
            rec(name, spark_rows=len(srows), err=f"duckdb error: {e}")
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            rec(name, spark_rows=len(srows), oracle_rows=len(drows))
            print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(drows)} [{dt:.1f}s]")
            continue
        scols = sorted(srows[0].keys()) if srows else sorted(sdf.columns)
        if scols != sorted(dcols):
            failures.append(name)
            rec(name, rows_match=True, spark_rows=len(srows), oracle_rows=len(drows))
            print(f"FAIL  {name}: columns spark={scols} duckdb={sorted(dcols)}")
            continue
        sc, dc = canon(srows), canon(drows)
        if sc != dc:
            failures.append(name)
            rec(
                name,
                rows_match=True,
                schema_match=True,
                spark_rows=len(srows),
                oracle_rows=len(drows),
            )
            bad = next(i for i, (a, b) in enumerate(zip(sc, dc)) if a != b)
            print(f"FAIL  {name}: value mismatch at sorted-row {bad}:")
            print(f"      spark : {sc[bad]}")
            print(f"      duckdb: {dc[bad]}")
            continue
        rec(
            name,
            rows_match=True,
            schema_match=True,
            hash_match=True,
            spark_rows=len(srows),
            oracle_rows=len(drows),
        )
        print(f"OK    {name}: {len(srows)} rows match [{dt:.1f}s]")

    # Completeness gate: every queries() entry must be VALUE-checked —
    # an entry without an oracle_sql twin silently downgrades to a
    # rows-only record at the driver, which must be a loud, deliberate
    # choice here (list it in ROWS_ONLY_OK), never an accident.
    unexpected = [n for n in rows_only if n not in ROWS_ONLY_OK]
    if not only and unexpected:
        failures.append("__completeness__")
        print(f"FAIL  completeness: no oracle_sql for {unexpected}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(record, f, indent=2)
            f.write("\n")
        print(f"wrote {json_out} ({len(record)} entries)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
