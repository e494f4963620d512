"""The one derived-state cache (``mongo_to_clickhouse_spark.cache``):
every former memo rebuilds when its source table is rewritten in place,
object-keyed entries stay under the LRU bound, and ``clear()`` releases
work dirs. Inputs are tiny tmp parquet files."""

from __future__ import annotations

import os
import pathlib
import re
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mongo_to_clickhouse_spark import cache
from mongo_to_clickhouse_spark.io import cached_work_dir, load_table
from mongo_to_clickhouse_spark.operators.autoscale import (
    corpus_count,
    distinct_count,
)
from mongo_to_clickhouse_spark.operators.materialize import cached_barrier
from mongo_to_clickhouse_spark.queries import dedupops
from mongo_to_clickhouse_spark.queries.vectorops import _emb_dim

SRC = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh():
    cache.clear()
    yield
    cache.clear()


def _customers(sf: str, n: int) -> None:
    pq.write_table(
        pa.table({
            "c_custkey": pa.array(range(1, n + 1), pa.int64()),
            "c_name": pa.array([f"c{i}" for i in range(n)], pa.string()),
            "c_nationkey": pa.array([i % (n // 5) for i in range(n)],
                                    pa.int32()),
            "c_acctbal": pa.array([1.0] * n, pa.float64()),
            "c_mktsegment": pa.array(["BUILDING"] * n, pa.string()),
        }),
        os.path.join(sf, "customer.parquet"),
    )


def _embeddings(sf: str, dim: int) -> None:
    pq.write_table(
        pa.table({
            "vec_id": pa.array([1, 2], pa.int64()),
            "embedding": pa.array([[0.5] * dim] * 2, pa.list_(pa.float32())),
            "label": pa.array([0, 1], pa.int32()),
        }),
        os.path.join(sf, "embeddings.parquet"),
    )


def _documents(sf: str, n: int) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(1, n + 1), pa.int64()),
            "text": pa.array(["x"] * n, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["src0"] * n, pa.string()),
            "n_chars": pa.array([1] * n, pa.int64()),
        }),
        os.path.join(sf, "documents.parquet"),
    )


def _work_dir_rows(spark, sf: str) -> int:
    def build(root):
        with open(os.path.join(root, "n"), "w") as f:
            f.write(str(load_table(spark, sf, "customer").count()))

    root = cached_work_dir(spark, "cache-test", sf, ("customer",), build)
    with open(os.path.join(root, "n")) as f:
        return int(f.read())


def _barrier_rows(spark, sf: str) -> int:
    return cached_barrier(
        spark, sf, "cache_test_n",
        lambda: load_table(spark, sf, "customer").selectExpr("COUNT(*) AS n"),
        tables=("customer",),
    ).first().n


def _cc_nodes(spark, sf: str) -> int:
    # the LSH pairs and the CC fixed point (each several Spark jobs) are
    # stubbed by one self-edge per document: the memo around them is
    # what is under test
    def self_edges(s, d):
        return load_table(s, d, "documents").selectExpr(
            "doc_id AS a_id", "doc_id AS b_id")

    with mock.patch.object(dedupops, "dedup_minhash_lsh_pairs", self_edges), \
            mock.patch.object(dedupops, "connected_components", lambda e: e):
        return dedupops._cc_labels(spark, sf).count()


# entry name -> (writer(sf, arg), reader(spark, sf), (arg, value) before
# and after the in-place rewrite)
CASES = {
    "scan/customer": (
        _customers, lambda s, sf: load_table(s, sf, "customer").count(),
        ((10, 10), (25, 25)),
    ),
    "work_dir/cache-test": (_customers, _work_dir_rows, ((10, 10), (25, 25))),
    "count/customer": (
        _customers, lambda s, sf: corpus_count(s, sf, "customer"),
        ((10, 10), (25, 25)),
    ),
    "distinct/customer.c_nationkey": (
        _customers,
        lambda s, sf: distinct_count(s, sf, "customer", "c_nationkey"),
        ((10, 2), (25, 5)),
    ),
    "barrier/cache_test_n": (_customers, _barrier_rows, ((10, 10), (25, 25))),
    "cc_labels": (_documents, _cc_nodes, ((2, 2), (3, 3))),
    "emb_dim": (_embeddings, _emb_dim, ((3, 3), (5, 5))),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_rewrite_in_place_rebuilds(spark, tmp_path, name):
    write, read, ((arg0, want0), (arg1, want1)) = CASES[name]
    sf = str(tmp_path)
    write(sf, arg0)
    assert read(spark, sf) == want0
    assert read(spark, sf) == want0
    s = cache.stats(name)
    assert (s.builds, s.hits) == (1, 1)

    write(sf, arg1)
    assert read(spark, sf) == want1
    assert cache.stats(name).builds == 2
    assert cache.entries(name) == 1


def test_work_dir_rebuild_and_clear_delete_dirs(spark, tmp_path):
    sf = str(tmp_path)
    _customers(sf, 10)

    def build(root):
        load_table(spark, sf, "customer").write.parquet(
            os.path.join(root, "c"))

    first = cached_work_dir(spark, "cache-test", sf, ("customer",), build)
    assert cached_work_dir(spark, "cache-test", sf, ("customer",),
                           build) == first
    _customers(sf, 25)
    second = cached_work_dir(spark, "cache-test", sf, ("customer",), build)
    assert second != first
    assert not os.path.exists(first)
    assert os.path.isdir(second)

    cache.clear()
    assert not os.path.exists(second)
    assert cache.entries("work_dir/cache-test") == 0


def test_undersplit_probe_entries_stay_bounded(spark):
    from mongo_to_clickhouse_spark.plans.pipeline import (
        statements_from_events,
    )

    from pyspark.sql import functions as F

    customer = load_table(spark, SRC, "customer")
    events = load_table(spark, SRC, "events")
    for i in range(200):
        statements_from_events(events.filter(F.col("event_id") > i), customer)
    assert cache.stats("undersplit").builds == 200
    assert 0 < cache.entries("undersplit") <= cache.OBJECT_ENTRIES

    # the unranged scan is one memoized object: its probe runs once
    statements_from_events(events, customer)
    statements_from_events(events, customer)
    assert cache.stats("undersplit").hits == 1


def test_ranged_backfills_probe_the_scan_once(spark, tmp_path):
    """A range filter keeps the scan's file splits: three ranged backfill
    calls probe the memoized events scan once and pin no ranged frame."""
    from mongo_to_clickhouse_spark.config import TenantConfig
    from mongo_to_clickhouse_spark.plans.backfill import run_backfill

    for k in range(3):
        base = os.path.join(str(tmp_path), f"call{k}")
        tenant = TenantConfig(
            name="bf", source_path=SRC,
            sink_main_path=os.path.join(base, "main"),
            sink_optout_path=os.path.join(base, "optout"),
            checkpoint_path=os.path.join(base, "ckpt"),
            dlq_path=os.path.join(base, "dlq"))
        run_backfill(spark, tenant, SRC, "2024-01-03T00:00", "2024-01-27T00:00")
    assert cache.stats("undersplit").builds == 1
    assert cache.entries("undersplit") == 1


# a module-level name bound to an empty mapping is a hand-rolled memo
_MEMO_DICT = re.compile(
    r"^\w+\s*(?::[^=]+)?=\s*(?:\{\}|dict\(\)|(?:collections\.)?"
    r"(?:OrderedDict|defaultdict)\([^)]*\))\s*(?:#.*)?$"
)


def test_no_memo_dict_outside_cache_module():
    """Derived state lives in ``cache.py`` under its one key, staleness
    and bound policy; a module-level memo dict elsewhere brings back a
    private key, no staleness check and no clear hook."""
    import mongo_to_clickhouse_spark as pkg

    pkg_dir = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in sorted(pkg_dir.rglob("*.py")):
        rel = str(py.relative_to(pkg_dir))
        if rel == "cache.py":
            continue
        for lineno, line in enumerate(py.read_text().splitlines(), 1):
            if _MEMO_DICT.match(line):
                offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, (
        "module-level memo dict outside cache.py (use cache.get or "
        "cache.by_object):\n" + "\n".join(offenders)
    )
