"""Seeded input generators for the benchmark workloads.

The program under test only ever sees the parquet written here. Every
table is a pure function of the seed, so the same seed gives the same
bytes' worth of rows and values, and a second seed gives the same sizes
and shares with other values.

CDC inputs (``cdc_catchup``, ``backfill_range``) carry the anomalies the
live path has to route:

- ``UNMATCHED_SHARE`` of events name a ``user_id`` with no customer, so
  the actor join drops them;
- ``NULL_PROPS_SHARE`` of events have null ``props`` and fail validation;
- ``EMPTY_ACTOR_SHARE`` of customers have a name whose e-mail localpart is
  empty (``@tenantN.example``), so their events are skipped;
- every customer with ``c_custkey % 5 == 0`` (20%) is opted out by the
  program's derived opt-out dimension, with ``c_custkey % 3 + 1`` (1 to 3)
  versions per e-mail.

Events are written in ``ts`` order with ``ROW_GROUP_ROWS``-row groups, so
a range predicate on ``ts`` has row groups to prune.

The query fixture (``query_mix``) follows the schemas and value ranges of
the repository's test fixtures (FIXTURES.md) at their smallest scale
factor.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator changes, so cached inputs are rebuilt.
GEN_VERSION = 1

ROW_GROUP_ROWS = 16_384
UNMATCHED_SHARE = 0.03
NULL_PROPS_SHARE = 0.02
EMPTY_ACTOR_SHARE = 0.01
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
# Keep at most this many cached seeds per input kind on disk.
CACHE_KEEP = 4

_US = pa.timestamp("us")
_DAY_US = 86_400_000_000


def _customers(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    names = np.array([f"Customer#{k:09d}" for k in keys], dtype=object)
    empty = rng.random(n) < EMPTY_ACTOR_SHARE
    names[empty] = [f"@tenant{k}.example" for k in keys[empty]]
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array(names, pa.string()),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": segments[rng.integers(0, len(segments), n)],
    })


def _events(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    first_ts_us: int,
    mean_gap_us: float,
    n_customers: int,
) -> pa.Table:
    ts = first_ts_us + np.cumsum(
        rng.exponential(mean_gap_us, n).astype(np.int64) + 1
    )
    user = rng.integers(0, n_customers, n)
    unmatched = rng.random(n) < UNMATCHED_SHARE
    user[unmatched] = rng.integers(n_customers, 2 * n_customers,
                                   int(unmatched.sum()))
    k = rng.integers(0, 100, n)
    props = np.array([f'{{"k": {v}}}' for v in k], dtype=object)
    props[rng.random(n) < NULL_PROPS_SHARE] = None
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, _US),
        "user_id": user.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": pa.array(props, pa.string()),
    })


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def write_cdc_backlog(
    seed: int, out: str, n_files: int, rows_per_file: int, n_customers: int
) -> None:
    """``customer.parquet`` plus ``events/part-NNNNN.parquet``: a backlog of
    ts-ordered event files of ``rows_per_file`` rows each."""
    rng = np.random.default_rng([seed, 1])
    _write(_customers(rng, n_customers), os.path.join(out, "customer.parquet"))
    ev_dir = os.path.join(out, "events")
    os.makedirs(ev_dir)
    ts = EPOCH_2024_US
    for i in range(n_files):
        t = _events(rng, rows_per_file, i * rows_per_file, ts, 2_000_000.0,
                    n_customers)
        ts = t.column("ts")[-1].value
        _write(t, os.path.join(ev_dir, f"part-{i:05d}.parquet"))


def write_backfill_source(
    seed: int, out: str, n_rows: int, n_customers: int, span_days: int
) -> None:
    """``customer.parquet`` plus one ts-ordered, multi-row-group
    ``events.parquet`` spanning ``span_days`` days from 2024-01-01."""
    rng = np.random.default_rng([seed, 2])
    _write(_customers(rng, n_customers), os.path.join(out, "customer.parquet"))
    gap = span_days * _DAY_US / n_rows
    _write(_events(rng, n_rows, 0, EPOCH_2024_US, gap, n_customers),
           os.path.join(out, "events.parquet"))


_WORDS = (
    "the a fast slow small big key value row column table data scan join "
    "hash merge sort filter agg group window order part line customer "
    "batch stream spark query vector"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def write_query_fixture(seed: int, out: str) -> None:
    """The ten fixture tables (FIXTURES.md schemas, smallest scale)."""
    rng = np.random.default_rng([seed, 3])
    tables: dict[str, pa.Table] = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": regions,
    })
    tables["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n_cust, n_supp, n_part, n_ord, n_line = 150, 10, 200, 1_500, 6_000
    cust = _customers(rng, n_cust)
    # the query fixture has no empty-localpart names
    tables["customer"] = cust.set_column(
        1, "c_name",
        pa.array([f"Customer#{k:09d}" for k in range(n_cust)], pa.string()),
    )
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["red", "blue", "hot", "cold", "old", "small", "large"])
    noun = np.array(["widget", "bolt", "plate", "ring", "rod", "gizmo"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    pkeys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pkeys % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, len(adj), n_part)], " "),
            noun[rng.integers(0, len(noun), n_part)],
        ).astype(object),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, len(ptypes), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    day0 = 9_131  # 1995-01-01 in days since the epoch
    odate = day0 + rng.integers(0, 2_404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate * _DAY_US, _US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    lorder = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    starts = np.r_[0, np.flatnonzero(np.diff(lorder)) + 1]
    linenum = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts,
                                                                  n_line]))
    lpart = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (linenum + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[lpart]
                                    * rng.uniform(0.98, 1.02, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            (odate[lorder] + rng.integers(1, 122, n_line)) * _DAY_US, _US),
    })
    ev = _events(rng, 1_000, 0, EPOCH_2024_US, 30 * _DAY_US / 1_000, n_cust)
    # the query fixture's events always match a customer and carry props
    tables["events"] = ev.set_column(
        2, "user_id", pa.array(rng.integers(0, n_cust, 1_000), pa.int64())
    ).set_column(
        5, "props",
        pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, 1_000)],
                 pa.string()),
    )
    tables["documents"] = _documents(rng, 500)
    tables["embeddings"] = _embeddings(rng, 500, 64, 10)
    for name, table in tables.items():
        _write(table, os.path.join(out, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; 5% are an earlier document plus ' dup'."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(8, 80))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int,
                labels: int) -> pa.Table:
    """Unit vectors scattered around one random centre per label."""
    centres = rng.normal(0.0, 0.14 / np.sqrt(dim), (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centres[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": label.astype(np.int32),
    })


def cached(root: str, kind: str, seed: int, build, *args) -> str:
    """Return ``root/kind-v<GEN_VERSION>-seed``, running
    ``build(seed, dir, *args)`` the first time. The build runs in a child
    process (``python3 gen.py <build> <seed> <dir> <args...>``, integer
    arguments only), so its memory never shows in the benchmark process's
    peak RSS whether the seed was cached or not, and the child has ended
    before this returns. A directory only counts once its
    ``done`` marker exists; older seeds of the same kind beyond
    ``CACHE_KEEP`` are deleted."""
    out = os.path.join(root, f"{kind}-v{GEN_VERSION}-{seed}")
    marker = os.path.join(out, "done")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        code = subprocess.run(
            [sys.executable, os.path.abspath(__file__), build.__name__,
             str(seed), out, *map(str, args)]).returncode
        if code != 0:
            raise RuntimeError(f"generating {out} failed ({code})")
        open(marker, "w").close()
    os.utime(marker)
    mine = sorted(
        (os.path.getmtime(os.path.join(root, d, "done")), d)
        for d in os.listdir(root)
        if d.startswith(f"{kind}-") and os.path.exists(
            os.path.join(root, d, "done"))
    )
    for _, old in mine[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return out


if __name__ == "__main__":
    name, seed, out, *rest = sys.argv[1:]
    globals()[name](int(seed), out, *map(int, rest))
