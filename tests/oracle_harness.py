"""Local replica of the driver's correctness gate: run each declared query
on Spark AND its DuckDB oracle on the same parquet, compare row count,
column names, and order-insensitive values.

Comparison is strict (exact value equality after canonical stringification)
— stricter than any plausible hash the driver uses, so passing here implies
passing there.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_type(t: str) -> str:
    """Normalize a declared engine type (Spark simpleString or DuckDB type
    string) to one canonical spelling so cross-engine drift is visible.

    Intentionally does NOT unify BIGINT/HUGEINT or decimal precisions —
    the driver's value hash is type-sensitive, so those must match exactly
    (pin both sides with explicit casts in the query + oracle_sql).
    """
    t = t.strip()
    low = t.lower()
    # Spark array<t> / DuckDB t[]
    if low.startswith("array<") and low.endswith(">"):
        return _canon_type(t[6:-1]) + "[]"
    if low.endswith("[]"):
        return _canon_type(t[:-2]) + "[]"
    if low.startswith("decimal"):
        return "DECIMAL" + low[7:].replace(" ", "")
    mapping = {
        "bigint": "BIGINT",
        "int": "INTEGER",
        "integer": "INTEGER",
        "smallint": "SMALLINT",
        "tinyint": "TINYINT",
        "hugeint": "HUGEINT",
        "double": "DOUBLE",
        "float": "FLOAT",
        "real": "FLOAT",
        "string": "VARCHAR",
        "varchar": "VARCHAR",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "binary": "BLOB",
        "blob": "BLOB",
    }
    return mapping.get(low, t.upper())


def declared_type_problems(spark_df, d_rel) -> list[str]:
    """Compare DECLARED result types (spark schema vs duckdb relation types),
    including decimal precision/scale and BIGINT-vs-HUGEINT — the drift the
    driver's type-sensitive value hash rejects even when values agree."""
    s_types = {
        f.name.lower(): _canon_type(f.dataType.simpleString())
        for f in spark_df.schema.fields
    }
    d_types = {
        c.lower(): _canon_type(str(t))
        for c, t in zip(d_rel.columns, d_rel.types)
    }
    problems = []
    for c in sorted(set(s_types) & set(d_types)):
        if s_types[c] != d_types[c]:
            problems.append(
                f"declared type differs for {c!r}: spark={s_types[c]} duck={d_types[c]}"
            )
    return problems


def _canon(v):
    """Canonical, engine-agnostic value representation."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def rows_key(cols, rows):
    """Sort columns by name (like the driver), canonicalize, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def rows_digest(cols, rows) -> str:
    """sha256 of the column names and the ``rows_key`` rows: the same for
    any row or column order, so two runs of an id can be compared by it."""
    cols = [c.lower() for c in cols]
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in rows_key(cols, rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def compare_detailed(spark_df, con, sql: str) -> dict:
    """Driver-schema verdict record: rows/schema/hash match booleans +
    both row counts (the shape CORRECTNESS_r*.json uses), from ONE
    evaluation of each engine (same comparator as compare()), plus the
    ``rows_digest`` of the Spark rows."""
    problems, s_cols, s_rows, d_n = _compare_impl(spark_df, con, sql)
    schema_bad = any(
        "columns differ" in p or "type" in p for p in problems
    )
    rows_bad = any("row count differs" in p for p in problems)
    # if the column-set mismatch short-circuited _compare_impl before row
    # counts were ever compared (oracle_rows is None), row parity was NOT
    # checked — report None rather than a false True (ADVICE r10)
    short_circuited = d_n is None
    return {
        "rows_match": None if short_circuited else not rows_bad,
        "schema_match": not schema_bad,
        "hash_match": not problems,
        "spark_rows": len(s_rows),
        "oracle_rows": d_n,
        "spark_digest": rows_digest(s_cols, s_rows),
        "err": None,
        "problems": [p[:300] for p in problems] or None,
    }


def compare(spark_df, con, sql: str) -> list[str]:
    """Return a list of mismatch descriptions (empty = parity)."""
    return _compare_impl(spark_df, con, sql)[0]


def _compare_impl(spark_df, con, sql: str):
    problems: list[str] = []
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = [c for c in spark_df.columns]
    d_rel = con.sql(sql)
    d_cols = list(d_rel.columns)

    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duck={sorted(d_cols)}")
        return problems, s_cols, s_rows, None

    problems.extend(declared_type_problems(spark_df, d_rel))
    d_rows = d_rel.fetchall()
    if len(s_rows) != len(d_rows):
        problems.append(f"row count differs: spark={len(s_rows)} duck={len(d_rows)}")

    # dtype-class drift (e.g. Decimal on one side, float on the other) can
    # break a stricter driver hash even when canonical values agree
    def _kinds(cols, rows):
        kinds = {}
        for i, c in enumerate(cols):
            v = next((r[i] for r in rows if r[i] is not None), None)
            kinds[c.lower()] = type(v).__name__ if v is not None else None
        return kinds

    sk_kinds, dk_kinds = _kinds(s_cols, s_rows), _kinds(d_cols, d_rows)
    for c in sk_kinds:
        a, b = sk_kinds[c], dk_kinds.get(c)
        if a and b and a != b and {a, b} != {"int", "bool"}:
            problems.append(f"column {c!r} type-class differs: spark={a} duck={b}")

    sk = rows_key([c.lower() for c in s_cols], s_rows)
    dk = rows_key([c.lower() for c in d_cols], d_rows)
    if sk != dk:
        dk_set, sk_set = set(map(tuple, dk)), set(map(tuple, sk))
        diff_s = [r for r in sk if tuple(r) not in dk_set][:3]
        diff_d = [r for r in dk if tuple(r) not in sk_set][:3]
        problems.append(
            f"values differ; spark-only sample={diff_s} duck-only sample={diff_d}"
        )
    return problems, s_cols, s_rows, len(d_rows)
