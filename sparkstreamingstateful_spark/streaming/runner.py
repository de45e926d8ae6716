"""Streaming-query runner: the one place a streaming DataFrame is run to
its end (``availableNow`` trigger, see :func:`drive_stream`), plus the
memory-sink form that hands back the materialized result table.

The memory sink is the test/driver surface; production sinks (foreachBatch →
parquet with exactly-once via checkpoint, console) are exercised in
tests/test_streaming.py (S5, ST11).

Neither memory-sink runner sets ``checkpointLocation``: Spark then
creates a temporary checkpoint and deletes it when the query stops
cleanly, so a run leaves no checkpoint dir behind.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from ..session import conf_window

# Progress snapshots of the most recent drive_stream() execution (list of
# per-micro-batch progress dicts, driver-side metadata only — a few KB).
# Tests read state-operator metrics from here (e.g. asserting
# dropDuplicatesWithinWatermark actually EVICTS state rows) without the
# queries having to thread a query handle through their return value.
LAST_QUERY_PROGRESS: list[dict] = []


def require_no_data_batches(spark) -> None:
    """The single-sentinel feed design (feeder.py) relies on the no-data
    flush micro-batch to apply the final watermark and evict remaining
    state; it is on by default, but pin it so a cluster-side override
    can't silently turn sentinel feeds into never-emitting streams.
    Explicit raise (not assert — stripped under python -O) and
    case-insensitive (Spark parses boolean confs case-insensitively).
    drive_stream calls it for every availableNow execution."""
    no_data = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    if str(no_data).lower() != "true":
        raise RuntimeError(
            "single-sentinel feeds require "
            "spark.sql.streaming.noDataMicroBatches.enabled=true "
            f"(found {no_data!r}); see streaming/feeder.py"
        )


def run_stream_drain(
    df: DataFrame,
    *,
    done,
    output_mode: str = "complete",
    state_partitions: int = 4,
    timeout_s: float = 120.0,
) -> DataFrame:
    """Run a streaming DataFrame until ``done(end_offset)`` says the
    source is exhausted, then stop and return the memory table.

    Exists for custom Python micro-batch sources
    (``sources/pyds.ParquetDirStreamDataSource``): the availableNow
    trigger snapshots "latest" ONCE at start, but a Python source's
    ``latestOffset`` is also its rate limiter (it advances per call), so
    availableNow would consume exactly one micro-batch and declare
    victory (measured). Instead: continuous trigger + poll the committed
    end offset from query progress until the caller's predicate holds.
    ``done`` receives the parsed ``endOffset`` dict of source 0.
    """
    import json
    import time

    spark = df.sparkSession
    name = "sss_mem_" + uuid.uuid4().hex[:12]
    with conf_window(spark, {"spark.sql.shuffle.partitions": str(state_partitions)}):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )
        try:
            deadline = time.monotonic() + timeout_s
            while True:
                if q.exception() is not None:
                    raise q.exception()
                p = q.lastProgress
                if p:
                    end = (p.get("sources") or [{}])[0].get("endOffset")
                    if isinstance(end, str):
                        # Python-source offsets surface in progress as the
                        # dict's repr (single quotes), not JSON — measured
                        # "{'split': 1}". Accept both.
                        try:
                            end = json.loads(end)
                        except json.JSONDecodeError:
                            import ast

                            end = ast.literal_eval(end)
                    if end is not None and done(end):
                        break
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"stream not drained after {timeout_s}s; "
                        f"last progress: {p}"
                    )
                time.sleep(0.05)
        finally:
            # the timeout/exception paths must not leak a forever-running
            # query (it would keep polling latestOffset and hold executor
            # slots against every later query in the session)
            q.stop()
        q.awaitTermination()
        global LAST_QUERY_PROGRESS
        LAST_QUERY_PROGRESS = [dict(pr) for pr in (q.recentProgress or [])]
    return spark.table(name)


def drive_stream(
    df: DataFrame,
    start,
    *,
    state_partitions: int = 4,
    confs: dict[str, str] | None = None,
) -> None:
    """Run a streaming DataFrame to its end: the only availableNow entry point.

    Checks the no-data-batch guard, opens a conf window with
    ``spark.sql.shuffle.partitions=state_partitions`` plus ``confs``
    (read at query start; the partition count is then pinned in the
    checkpoint), hands
    ``start`` the ``availableNow`` writer to name and start the sink
    (``lambda w: w.format("noop")....start()``), waits for the query to
    finish and records its progress in ``LAST_QUERY_PROGRESS``.

    ``state_partitions`` caps the stateful-operator partition count.
    Stateful micro-batches pay a Python-worker/state-store round-trip per
    partition per batch, so the right count tracks rows-per-batch: small
    feeds want few, fuller partitions (fixed cost dominates), large feeds
    want more (real work dominates) — registered queries size it via
    ``queries._parts`` (r4 sweep in its docstring). A production
    deployment with real key cardinality would pin O(cores) once for the
    checkpoint's lifetime.
    """
    spark = df.sparkSession
    require_no_data_batches(spark)
    window = {"spark.sql.shuffle.partitions": str(state_partitions), **(confs or {})}
    with conf_window(spark, window):
        q = start(df.writeStream.trigger(availableNow=True))
        q.awaitTermination()
    global LAST_QUERY_PROGRESS
    LAST_QUERY_PROGRESS = [dict(p) for p in (q.recentProgress or [])]


def run_stream(
    df: DataFrame, *, output_mode: str = "append", state_partitions: int = 4
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink; return
    the memory table (see :func:`drive_stream` for ``state_partitions``)."""
    name = "sss_mem_" + uuid.uuid4().hex[:12]
    drive_stream(
        df,
        lambda w: w.format("memory").queryName(name).outputMode(output_mode).start(),
        state_partitions=state_partitions,
    )
    return df.sparkSession.table(name)
