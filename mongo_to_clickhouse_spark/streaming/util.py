"""The run-on-call stream lifecycle shared by the registry ids that run a
real stream and by the tests: a per-call work dir (``call_work_dir``),
sources staged into it one file per micro-batch (``stage_batch_files``,
``stage_events_source``), a drain that fails loudly on timeout
(``await_drained``) and one memory-sink drain (``drain_to_memory``).
Results read from files in the work dir are ``localCheckpoint``-ed
before the dir goes."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from typing import Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from mongo_to_clickhouse_spark.io import table_path

DRAIN_TIMEOUT_SEC = 300
# staged batch file k gets this mtime + k seconds
_FIRST_BATCH_MTIME = 1_700_000_000


def normalize_events_ts(table: pa.Table) -> pa.Table:
    """Normalize ``events.ts`` to ``timestamp[us]`` (no timezone) whatever
    the fixture's physical type is THIS regeneration — int64 epoch-nanos,
    parquet ``timestamp[ns]``, or ``timestamp[us]``. This is the single
    schema-adaptation seam for the whole streaming tier (the batch twin is
    ``io.load_table``): every ``readStream`` consumer declares
    ``ts TIMESTAMP_NTZ`` and never sees the raw encoding.

    Mirrors the reference's change-stream consumer, which probes field
    types at runtime instead of trusting a compiled-in schema
    (/root/reference/src/main.rs:362-397). Truncation (ns→µs) matches how
    DuckDB reads the same file, keeping oracle parity."""
    idx = table.schema.get_field_index("ts")
    if idx < 0:
        return table
    t = table.schema.field(idx).type
    us = pa.timestamp("us")
    if t == us:
        return table
    col = table.column(idx)
    if pa.types.is_integer(t):  # epoch-nanos surfaced as int64
        col = pc.divide(col, 1000).cast(us)
    else:  # timestamp[ns] or other unit; cast truncates toward zero
        col = col.cast(pa.timestamp("ns")).cast(us, safe=False)
    return table.set_column(idx, "ts", col)


def await_drained(q: StreamingQuery, timeout_sec: int = DRAIN_TIMEOUT_SEC) -> None:
    """awaitTermination that FAILS LOUDLY on timeout instead of letting the
    caller read a half-written sink (partial results are far more confusing
    than a clear timeout)."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{timeout_sec}s"
        )


@contextlib.contextmanager
def call_work_dir(prefix: str, given: str | None = None) -> Iterator[str]:
    """A fresh temp dir for one call's staged sources, sinks and
    checkpoints, removed when the block exits. By then every query the
    block started has terminated (``await_drained``), so nothing writes
    into it any more; a result that reads files in it must be
    ``localCheckpoint``-ed inside the block. A ``given`` dir (the
    caller's own) is used as it is and never removed."""
    if given is not None:
        yield given
        return
    path = tempfile.mkdtemp(prefix=f"{prefix}-")
    keep = False
    try:
        yield path
    except TimeoutError as e:
        # StreamingQuery.stop() returns while the last foreachBatch body
        # may still be writing into this dir, so removing it would race a
        # live writer: keep it, and say where it is
        keep = True
        raise TimeoutError(f"{e}; its work dir {path} is kept") from e
    finally:
        if not keep:
            shutil.rmtree(path, ignore_errors=True)


def stage_batch_files(
    src: str, batches: Iterable[pa.Table | DataFrame]
) -> list[str]:
    """Write one parquet file per micro-batch into ``src``: batch k is
    ``b<k>.parquet`` with an mtime k seconds after the first, and the file
    source takes new files in mtime order, so under
    ``maxFilesPerTrigger=1`` file k is micro-batch k. A pyarrow table is
    written as one row group (so Spark never splits it); a DataFrame by
    one task (so no rows reach the driver). Returns the file paths."""
    os.makedirs(src, exist_ok=True)
    paths = []
    for k, batch in enumerate(batches):
        path = os.path.join(src, f"b{k}.parquet")
        if isinstance(batch, pa.Table):
            pq.write_table(batch, path, row_group_size=max(batch.num_rows, 1))
        else:
            out = os.path.join(src, f"_b{k}")  # '_': the file source skips it
            batch.coalesce(1).write.parquet(out)
            (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
            os.rename(os.path.join(out, part), path)
            shutil.rmtree(out)
        os.utime(path, (_FIRST_BATCH_MTIME + k,) * 2)
        paths.append(path)
    return paths


def events_table(sf_dir: str, sort: bool = False) -> pa.Table:
    """The events fixture as staged sources see it (``ts`` normalized);
    ``sort`` orders it by (ts, event_id), so arrival order into a
    first-wins stateful operator is event-time order."""
    table = normalize_events_ts(pq.read_table(table_path(sf_dir, "events")))
    if sort:
        table = table.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    return table


def stage_events_source(
    sf_dir: str, src: str, parts: int = 1, sort: bool = False
) -> list[str]:
    """Stage the events fixture into ``src`` as ``parts`` row-slice files,
    one per micro-batch (``stage_batch_files``); ``sort`` as in
    ``events_table``. Returns the file paths."""
    table = events_table(sf_dir, sort)
    n = table.num_rows
    bounds = [i * n // parts for i in range(parts + 1)]
    return stage_batch_files(
        src, [table.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]
    )


def drain_to_memory(stream: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain ``stream`` (availableNow) into a memory sink and return its
    rows. The sink's temp view is dropped at once: the returned DataFrame
    still reads the sink's rows, so no name is left in the session catalog
    and the rows are freed with the DataFrame."""
    spark = stream.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        await_drained(q)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def drain_events_to_memory(
    sf_dir: str,
    build: Callable[[str], DataFrame],
    output_mode: str = "append",
    sort: bool = False,
) -> DataFrame:
    """Stage the events fixture as one file (``sort`` as in
    ``events_table``) in a call work dir, drain ``build(source_dir)``,
    a stream over it, with ``drain_to_memory`` and return the rows; the
    work dir is gone when this returns."""
    with call_work_dir("events") as work:
        src = os.path.join(work, "source")
        stage_events_source(sf_dir, src, sort=sort)
        return drain_to_memory(build(src), output_mode)
