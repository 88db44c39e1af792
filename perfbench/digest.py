"""Order-insensitive result digests computed inside Spark and DuckDB.

Each row becomes one canonical string: its columns in name order, each
rendered the same way in both engines (integers as digits, fractional
numbers as round(x * 1e6), timestamps as epoch microseconds, dates as epoch
days, arrays element by element, NULL as a marker). The digest is the row
count plus the sum over rows of the first 60 bits of md5(row), so neither
engine ships rows to Python and row order does not matter. Both results
are (rows, sorted column names, digest) triples.
"""

from __future__ import annotations

import re

NULL = "'~N~'"
SCALE = "1000000"


def _spark_canon(expr: str, dtype) -> str:
    from pyspark.sql import types as T

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.BooleanType, T.StringType)):
        out = f"CAST({expr} AS STRING)"
    elif isinstance(dtype, T.DecimalType) and dtype.scale == 0:
        out = f"CAST({expr} AS STRING)"
    elif isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        out = (f"CAST(TRY_CAST(ROUND(CAST({expr} AS DOUBLE) * {SCALE}D) "
               "AS DECIMAL(38,0)) AS STRING)")
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        out = f"CAST(unix_micros(CAST({expr} AS TIMESTAMP)) AS STRING)"
    elif isinstance(dtype, T.DateType):
        out = f"CAST(unix_date({expr}) AS STRING)"
    elif isinstance(dtype, T.ArrayType):
        inner = _spark_canon("x", dtype.elementType)
        out = f"concat('[', array_join(transform({expr}, x -> {inner}), ','), ']')"
    else:
        raise TypeError(f"no canonical form for {dtype.simpleString()}")
    return f"coalesce({out}, {NULL})"


_DUCK_AS_TEXT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT", "BOOLEAN", "VARCHAR"}


def _duck_canon(expr: str, dtype: str) -> str:
    dtype = dtype.upper()
    dec = re.fullmatch(r"DECIMAL\((\d+),\s*(\d+)\)", dtype)
    if dtype in _DUCK_AS_TEXT or (dec and dec.group(2) == "0"):
        out = f"CAST({expr} AS VARCHAR)"
    elif dtype in ("FLOAT", "DOUBLE") or dec:
        out = (f"CAST(TRY_CAST(round(CAST({expr} AS DOUBLE) * {SCALE}) "
               "AS DECIMAL(38,0)) AS VARCHAR)")
    elif dtype.startswith("TIMESTAMP"):
        out = f"CAST(epoch_us({expr}) AS VARCHAR)"
    elif dtype == "DATE":
        out = f"CAST({expr} - DATE '1970-01-01' AS VARCHAR)"
    elif dtype.endswith("[]"):
        inner = _duck_canon("x", dtype[:-2])
        out = f"'[' || array_to_string(list_transform({expr}, x -> {inner}), ',') || ']'"
    else:
        raise TypeError(f"no canonical form for {dtype}")
    return f"coalesce({out}, {NULL})"


def spark_digest_exprs(schema) -> tuple[list[str], str, str]:
    """(sorted column names, row-count SQL, digest SQL) for a Spark schema;
    both are aggregates, usable in ``select`` or ``observe``."""
    fields = sorted(schema.fields, key=lambda f: f.name)
    row = "concat_ws('|', " + ", ".join(
        _spark_canon(f"`{f.name}`", f.dataType) for f in fields
    ) + ")"
    h = f"CAST(conv(substr(md5({row}), 1, 15), 16, 10) AS DECIMAL(38,0))"
    return [f.name for f in fields], "count(*)", f"sum({h})"


def duckdb_digest(con, sql: str) -> tuple[int, list[str], int]:
    """(rows, sorted column names, digest) of a DuckDB query."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = "concat_ws('|', " + ", ".join(
        _duck_canon('"' + c.replace('"', '""') + '"', t) for c, t in cols
    ) + ")"
    h = f"('0x' || substr(md5({row}), 1, 15))::BIGINT"
    n, s = con.sql(f"SELECT count(*), sum({h}) FROM ({sql}) AS t").fetchone()
    return int(n), [c for c, _ in cols], int(s or 0)
