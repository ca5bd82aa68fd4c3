"""Mirror of the driver's correctness harness: run each __spark_entry__
query against its DuckDB oracle at sf0.01 and compare row count, schema
width, and an order-insensitive value hash (columns sorted by name).

Usage: python scripts/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).parent.parent))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
]


def _canon(value) -> str:
    import datetime
    import math

    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{value:.6f}"
    if isinstance(value, datetime.datetime):
        return value.isoformat()
    return str(value)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(row[i]) for i in order) for row in rows)
    digest = hashlib.sha256()
    for line in lines:
        digest.update(line.encode())
        digest.update(b"\n")
    return digest.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{SF_DIR}/{table}.parquet'"
        )

    all_queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    wanted = sys.argv[1:] or list(all_queries)

    failures = 0
    for name in wanted:
        fn = all_queries[name]
        start = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_cols = [c.lower() for c in sdf.columns]
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            failures += 1
            continue
        elapsed = time.time() - start

        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS  {name}: rows={len(spark_rows)} (no oracle) [{elapsed:.1f}s]")
            continue
        try:
            cur = con.execute(sql)
            duck_cols = [d[0].lower() for d in cur.description]
            duck_rows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {type(exc).__name__}: {exc}")
            failures += 1
            continue

        problems = []
        # Guard against representational ambiguity the driver's hasher may
        # render differently than this mirror: no Decimal/hugeint/int128 may
        # reach the comparison from either engine — cast to double/bigint in
        # the query AND the oracle instead. cursor.description only reports
        # 'NUMBER' for hugeint (it hid a DuckDB window sum's int128 in
        # round 2), so resolve real logical types via the relation API.
        import decimal as _dec

        ambiguous_types = {"DECIMAL", "HUGEINT", "INT128", "UHUGEINT"}
        # The driver canonicalizer pandas-sorts columns and crashes on
        # unhashable values — complex types may not reach it either.
        complex_types = {"LIST", "STRUCT", "MAP", "ARRAY", "UNION"}
        try:
            rel = con.sql(sql)
            duck_types = [str(t).upper() for t in rel.types]
        except Exception:  # pragma: no cover - fall back to description
            duck_types = [str(d[1]).upper() for d in cur.description]
        for col, typ in zip(duck_cols, duck_types):
            if any(t in typ for t in ambiguous_types):
                problems.append(f"oracle col {col} has ambiguous type {typ}")
            # DuckDB renders lists as e.g. BIGINT[]; structs/maps by name.
            if "[]" in typ or any(typ.startswith(t) for t in complex_types):
                problems.append(f"oracle col {col} has complex type {typ}")
        for field in sdf.schema.fields:
            if field.dataType.typeName().startswith("decimal"):
                problems.append(f"spark col {field.name} has ambiguous type {field.dataType}")
            if field.dataType.typeName() in {"array", "struct", "map"}:
                problems.append(f"spark col {field.name} has complex type {field.dataType}")
        for row in spark_rows[:1] + duck_rows[:1]:
            for v in row:
                if isinstance(v, _dec.Decimal):
                    problems.append("Decimal value reached the hasher")
                    break
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rows {len(spark_rows)} != {len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols {sorted(spark_cols)} != {sorted(duck_cols)}")
        else:
            h_s = value_hash(spark_rows, spark_cols)
            h_d = value_hash(duck_rows, duck_cols)
            if h_s != h_d:
                problems.append(f"hash {h_s} != {h_d}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{elapsed:.1f}s]")
            if spark_rows and duck_rows:
                print(f"      spark[0]: {spark_rows[0]}")
                print(f"      duck [0]: {duck_rows[0]}")
            failures += 1
        else:
            print(f"OK    {name}: rows={len(spark_rows)} hash match [{elapsed:.1f}s]")

    print(f"\n{len(wanted) - failures}/{len(wanted)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
