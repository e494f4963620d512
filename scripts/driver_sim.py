"""Simulate the driver's verify flow end-to-end through the public
contract (__spark_entry__ only — no internal imports): t1 smoke on
sf0.001, t2 oracle comparison on sf0.01.

Usage: python scripts/driver_sim.py [sf_dir] [query_id ...]

With query_id args, only those registry entries are checked (fast
targeted re-verification); the t1 smoke still runs.

FULL runs (no query_id args) additionally write a driver-schema
artifact CORRECTNESS_full_<tag>.json at the repo root (VERDICT r9
item 2: the driver samples 50/395 per round and had never re-sampled
282 ids; this publishes the whole registry's row/schema/hash verdicts
every round so the judge can diff instead of re-sweeping). <tag> is
$SPARK_GRAFT_ROUND_TAG if set, else the sf directory basename. Each id's
record, and its printed line, carries ``spark_digest``, the
``oracle_harness.rows_digest`` of its Spark rows, so two trees' runs can be
diffed id by id.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # the driver's view of the repo
from tests.oracle_harness import (compare_detailed, duck_connection,
                                  rows_digest)

from mongo_to_clickhouse_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="driver-sim")

    t0 = time.time()
    smoke = contract.entry(spark)
    n = smoke.count()
    print(f"t1 smoke: entry() -> {n} rows, schema={smoke.schema.simpleString()}")
    assert n > 0

    qs = contract.queries()
    oracles = contract.oracle_sql()
    if len(sys.argv) > 2:
        only = set(sys.argv[2:])
        unknown = only - set(qs)
        if unknown:
            print(f"unknown query ids: {sorted(unknown)}")
            return 1
        qs = {k: v for k, v in qs.items() if k in only}
    con = duck_connection(sf_dir)
    results = {}
    artifact: dict[str, dict] = {}
    for qid, fn in sorted(qs.items()):
        t = time.time()
        rec = {"rows_match": None, "schema_match": None,
               "hash_match": None, "spark_rows": None,
               "oracle_rows": None, "spark_digest": None, "err": None}
        try:
            df = fn(spark, sf_dir)
            if qid in oracles:
                rec = compare_detailed(df, con, oracles[qid])
                results[qid] = (
                    "MATCH" if rec["hash_match"]
                    else f"MISMATCH: {rec['problems']}"
                )
            else:
                rows = df.collect()
                results[qid] = f"ROWS_ONLY: {len(rows)} rows"
                rec.update(spark_rows=len(rows),
                           spark_digest=rows_digest(df.columns, rows))
        except Exception as exc:  # noqa: BLE001
            results[qid] = f"ERROR: {exc}"
            rec["err"] = str(exc)[:500]
        artifact[qid] = rec
        print(f"  {qid}: {results[qid]} ({time.time()-t:.1f}s) "
              f"digest={(rec.get('spark_digest') or '-')[:16]}")

    if len(sys.argv) <= 2:  # full-registry run: publish the artifact
        tag = os.environ.get("SPARK_GRAFT_ROUND_TAG") or os.path.basename(
            os.path.normpath(sf_dir)
        )
        out = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f"CORRECTNESS_full_{tag}.json",
        )
        with open(out, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {out}")

    bad = {k: v for k, v in results.items() if v.startswith(("MISMATCH", "ERROR"))}
    print(json.dumps({
        "sf_dir": sf_dir,
        "total": len(qs),
        "oracle_checked": len(oracles),
        "failed": len(bad),
        "elapsed_sec": round(time.time() - t0, 1),
    }))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
