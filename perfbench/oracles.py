"""Output checks, run outside the timed regions.

CDC workloads: an independent DuckDB routing over the generated inputs
decides, for every event, whether it belongs in the main table, the
opt-out table or nowhere (unmatched user, null props, empty actor
localpart). The opt-out set is the latest version per e-mail of the
dimension the program derives from ``customer``. The sinks must hold
exactly those ids, once each, and the DLQ must be empty.

``query_mix``: each id is compared with its registry oracle SQL through
the repository's own ``tests/oracle_harness``.
"""

from __future__ import annotations

import glob
import os
import sys

import duckdb

from mongo_to_clickhouse_spark.functions.scalars import (
    FIXTURE_SALT,
    FIXTURE_TENANT,
)

_EXPECTED_SQL = """
WITH cust AS (
    SELECT c_custkey, lower(c_name) AS email,
           split_part(lower(c_name), '@', 1) AS localpart
    FROM read_parquet(?)
),
ev AS (SELECT * FROM read_parquet(?) WHERE ts BETWEEN ? AND ?),
dim AS (
    SELECT email, localpart, v.version
    FROM cust, range(1, 4) v(version)
    WHERE c_custkey % 5 = 0 AND v.version <= c_custkey % 3 + 1
),
active AS (
    SELECT DISTINCT sha256(? || ? || localpart) AS h FROM (
        SELECT localpart, version,
               max(version) OVER (PARTITION BY email) AS latest
        FROM dim)
    WHERE version = latest
)
SELECT printf('%024x', ev.event_id) AS id,
       sha256(? || ? || cust.localpart) IN (SELECT h FROM active) AS optout
FROM ev JOIN cust ON ev.user_id = cust.c_custkey
WHERE ev.props IS NOT NULL AND length(cust.localpart) > 0
"""

_TS_MIN, _TS_MAX = "1900-01-01 00:00:00", "2200-01-01 00:00:00"


def expected_routing(
    con: duckdb.DuckDBPyConnection,
    customer: str,
    events: list[str],
    ts_range: tuple[str, str] | None = None,
) -> None:
    """Materialize table ``expected(id, optout)`` for ``events``."""
    lo, hi = ts_range or (_TS_MIN, _TS_MAX)
    con.execute("DROP TABLE IF EXISTS expected")
    con.execute(
        "CREATE TABLE expected AS " + _EXPECTED_SQL,
        [customer, events, lo, hi,
         FIXTURE_SALT, FIXTURE_TENANT, FIXTURE_SALT, FIXTURE_TENANT],
    )


def _sink_ids(con: duckdb.DuckDBPyConnection, path: str, name: str) -> None:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    con.execute(f"DROP TABLE IF EXISTS {name}")
    if files:
        con.execute(f"CREATE TABLE {name} AS SELECT id FROM read_parquet(?)",
                    [files])
    else:
        con.execute(f"CREATE TABLE {name} (id VARCHAR)")


def routing_failures(
    con: duckdb.DuckDBPyConnection, main: str, optout: str, dlq: str
) -> dict[str, int]:
    """Compare the sinks with table ``expected``. Every missing, extra or
    duplicated id, and every DLQ row, is one failure."""
    _sink_ids(con, main, "got_main")
    _sink_ids(con, optout, "got_optout")
    out = {}
    for name, flag in (("main", "NOT optout"), ("optout", "optout")):
        out[f"{name}_missing"] = con.execute(
            f"SELECT count(*) FROM expected WHERE {flag} "
            f"AND id NOT IN (SELECT id FROM got_{name})").fetchone()[0]
        out[f"{name}_extra"] = con.execute(
            f"SELECT count(*) FROM got_{name} WHERE id NOT IN "
            f"(SELECT id FROM expected WHERE {flag})").fetchone()[0]
        out[f"{name}_duplicate"] = con.execute(
            f"SELECT count(*) - count(DISTINCT id) FROM got_{name}"
        ).fetchone()[0]
    dlq_files = glob.glob(os.path.join(dlq, "**", "*.parquet"), recursive=True)
    out["dlq_rows"] = con.execute(
        "SELECT count(*) FROM read_parquet(?)", [dlq_files]
    ).fetchone()[0] if dlq_files else 0
    return out


def expected_counts(con: duckdb.DuckDBPyConnection) -> tuple[int, int]:
    """(main rows, opt-out rows) in table ``expected``."""
    return con.execute(
        "SELECT count(*) FILTER (NOT optout), count(*) FILTER (optout) "
        "FROM expected").fetchone()


def query_oracle(root: str):
    """The repository's oracle harness, imported from ``tests/``."""
    tests_dir = os.path.join(root, "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import oracle_harness

    return oracle_harness
