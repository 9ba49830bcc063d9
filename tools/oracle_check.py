"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and order-insensitive values. Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows. Values are compared by exact
    repr() — dtype-sensitively: DuckDB rows come from an Arrow table
    (``to_pylist``), so a HUGEINT/decimal output surfaces as
    ``decimal.Decimal`` and fails against Spark's int, exactly like
    the driver's Arrow-level value hash (the r03/r05 session_windows
    red that Python ``fetchall()`` coercion used to mask)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            # exact repr — the driver hashes raw values, so any
            # pre-rounding here would mask real engine divergence
            return repr(v)
        return repr(v)

    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


# Arrow type → coarse class shared by the Spark- and DuckDB-side
# schemas. Classes must MATCH per column; "decimal" is deliberately
# its own class (no Spark query here emits DecimalType, so a decimal
# oracle column is always a DuckDB HUGEINT/DECIMAL leak).
def _arrow_class(t) -> str:
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "list<" + _arrow_class(t.value_type) + ">"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_map(t):
        return "map"
    return str(t)


def _spark_class(t) -> str:
    from pyspark.sql import types as T

    if isinstance(t, T.DecimalType):
        return "decimal"
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.TimestampType):
        return "ts"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, T.BinaryType):
        return "bin"
    if isinstance(t, T.ArrayType):
        return "list<" + _spark_class(t.elementType) + ">"
    if isinstance(t, T.StructType):
        return "struct"
    if isinstance(t, T.MapType):
        return "map"
    return t.simpleString()


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per parquet table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(spark, con, name: str, sf_dir: str) -> tuple[int, list[str]]:
    """Run query ``name`` on Spark and its oracle on DuckDB (``con``
    from ``duckdb_views(sf_dir)``). Returns (Spark row count, failure
    messages); no messages means row count, column names, column type
    classes and order-insensitive values all agree. A query without
    an oracle is a rows-only check."""
    import __spark_entry__ as entrymod

    oracle = entrymod.oracle_sql().get(name)
    try:
        # builders that lazily persist shared subtrees (PQ codebooks,
        # bloom gram sets) leave their cache lifetime to the caller —
        # drop it between queries like bench.py
        spark.catalog.clearCache()
        sdf = entrymod.queries()[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return 0, [f"spark error: {e}"]
    if oracle is None:
        return len(srows), []
    try:
        # Arrow-level fetch: preserves DuckDB's true output dtypes
        # (HUGEINT → decimal128) instead of fetchall()'s Python
        # coercion, so the comparison stays dtype-sensitive
        tbl = con.execute(oracle).fetch_arrow_table()
    except Exception as e:  # noqa: BLE001
        return len(srows), [f"duckdb error: {e}"]
    dcols = tbl.column_names
    dtypes = {f.name: _arrow_class(f.type) for f in tbl.schema}
    drows = [tuple(d[c] for c in dcols) for d in tbl.to_pylist()]

    fails = []
    if len(srows) != len(drows):
        fails.append(f"row count spark={len(srows)} duckdb={len(drows)}")
    if sorted(scols) != sorted(dcols):
        fails.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
    if fails:
        return len(srows), fails
    stypes = {f.name: _spark_class(f.dataType) for f in sdf.schema.fields}
    fails = [
        f"dtype mismatch on '{c}': spark={stypes[c]} duckdb={dtypes.get(c)}"
        for c in scols
        if stypes[c] != dtypes.get(c)
    ]
    if fails:
        return len(srows), fails
    ns, nd = normalize(srows, scols), normalize(drows, dcols)
    if ns != nd:
        diff = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b][:3]
        fails.append(
            f"value mismatch at sorted rows {diff}"
            + "".join(f"\n   spark : {ns[i]}\n   duckdb: {nd[i]}" for i in diff)
        )
    return len(srows), fails


def main() -> int:
    import __spark_entry__ as entrymod
    from joblink_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    names = [n for n in entrymod.queries() if not only or n in only]
    oracles = entrymod.oracle_sql()

    spark = get_spark("oracle-check")
    con = duckdb_views(sf_dir)
    failures = []
    for name in names:
        t0 = time.time()
        n, fails = compare(spark, con, name, sf_dir)
        if fails:
            failures.append(name)
            for f in fails:
                print(f"FAIL {name}: {f}")
        elif name in oracles:
            print(f"PASS {name}: {n} rows ({time.time()-t0:.1f}s)")
        else:
            print(f"OK?  {name}: rows-only check, {n} rows ({time.time()-t0:.1f}s)")
            if not n:
                print(f"     WARNING: {name} returned 0 rows")

    print(f"\n{len(names) - len(failures)}/{len(names)} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
