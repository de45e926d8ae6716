"""Micro-batch feeder: chunks ``events.parquet`` into K parquet files so a
streaming file source replays them as K micro-batches
(``maxFilesPerTrigger=1``), preserving global event-time order.

Variants:

* ``sentinels=True`` appends ONE far-future marker event (user_id=-1).
  In append mode, windows/sessions only emit once the watermark passes
  them; end-of-stream alone never closes the final windows. The sentinel
  advances the watermark past all real event time; the no-data flush
  micro-batch that ``availableNow`` runs after the last file (watermark
  changed + stateful ops pending ⇒ ``noDataMicroBatches``, on by
  default and asserted in runner.py) then evicts/times-out all
  remaining real state. (r1–r4 used TWO sentinels — the second existed
  only to host that final batch; the flush batch provides it for free,
  one micro-batch cheaper per sentinel feed — verified against all
  watermark-dependent oracles at sf0.01.) Queries must NOT filter
  sentinels inside the streaming plan — Catalyst pushes such filters
  below the EventTimeWatermark node and the watermark never advances
  (measured); filter the materialized result instead.
* ``replay=(i, ...)`` re-appends chunks after the originals — duplicate
  delivery for dedup tests (at-least-once source simulation).
* ``late_chunk=i`` holds chunk i back until the end — out-of-order arrival
  for watermark late-drop tests.

Every feed dir is built once per process (memoized by its arguments) and
deleted when the interpreter exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

SENTINEL_DAYS = (30,)

# Default micro-batch count for every chunked feed. The state-store
# changefeed / time-travel oracles (streaming/queries.py) predict per-batch
# state attribution from the ``i * n // K`` chunk boundaries this module
# cuts, so they interpolate THIS constant into their SQL — changing it
# re-derives feeder and oracles together instead of silently skewing the
# batch-id arithmetic (ADVICE r9).
DEFAULT_CHUNKS = 3

_feeds: dict[tuple, str] = {}
_max_ts_us: dict[str, int] = {}


_num_rows: dict[str, int] = {}


def events_num_rows(sf_dir: str) -> int:
    """Row count of the events table — parquet footer metadata only."""
    if sf_dir not in _num_rows:
        _num_rows[sf_dir] = pq.ParquetFile(
            f"{sf_dir}/events.parquet"
        ).metadata.num_rows
    return _num_rows[sf_dir]


def events_max_ts(sf_dir: str):
    """Max real event time (µs-truncated, naive UTC datetime) for ``sf_dir``.

    The sentinel cutoff for stripping far-future marker windows from
    materialized streaming results. Read via a single-column pyarrow scan —
    never a Spark batch action inside a streaming query function (an extra
    full scan of events per query otherwise)."""
    if sf_dir not in _max_ts_us:
        ts = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"]).column("ts")
        _max_ts_us[sf_dir] = _to_us(pa.compute.max(ts), ts.type)
    import datetime

    return datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=_max_ts_us[sf_dir]
    )


def _to_us(scalar, ts_type) -> int:
    """Max-ts scalar → epoch µs, whatever the on-disk ts representation
    (timestamp[ns] / raw int64 nanos → floor-div, timestamp[us]/[ms]/[s]
    → exact). Raw integer columns are classified 'ns' — same rule as
    catalog.events_ts_unit — so the two sniffs can never disagree."""
    if pa.types.is_integer(ts_type) or (
        pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"
    ):
        return scalar.cast(pa.int64()).as_py() // 1000
    return scalar.cast(pa.timestamp("us")).cast(pa.int64()).as_py()


def _sentinel_table(max_ts_us: int, day_offset: int, idx: int, ts_type) -> pa.Table:
    """Far-future marker row whose ts column matches the source table's
    physical type (the streaming source declares ONE schema for the whole
    chunk dir, so sentinel files must not diverge from data files)."""
    us = max_ts_us + day_offset * 86_400 * 1_000_000
    if pa.types.is_integer(ts_type):
        # Raw-integer ts columns hold NANOS (catalog.events_ts_unit's 'ns'
        # classification); a µs-valued int64 sentinel would sit 1000x in
        # the past and stall the watermark forever.
        ts_arr = pa.array([us * 1000], pa.int64()).cast(ts_type)
    else:
        ts_arr = pa.array([us], pa.timestamp("us")).cast(ts_type)
    return pa.table(
        {
            "event_id": pa.array([-1 - idx], pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array([-1], pa.int64()),
            "event_type": pa.array(["__sentinel__"]),
            "value": pa.array([0.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )


def _feed(key: tuple, prefix: str, make_chunks) -> str:
    """The one feed writer: on a memo miss, write ``make_chunks()`` (the
    micro-batch tables in delivery order) as ``0000.parquet``, ... with
    strictly increasing mtimes — the file source processes files in
    mtime order — into a fresh temp dir that is removed at exit."""
    hit = _feeds.get(key)
    if hit and os.path.isdir(hit):
        return hit
    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, True)
    base = 1_600_000_000
    for i, chunk in enumerate(make_chunks()):
        path = os.path.join(out, f"{i:04d}.parquet")
        pq.write_table(chunk, path)
        os.utime(path, (base + i, base + i))
    _feeds[key] = out
    return out


def _slices(table: pa.Table, n_chunks: int) -> list[pa.Table]:
    """``table`` cut at the ``i * n // n_chunks`` row boundaries."""
    bounds = [i * table.num_rows // n_chunks for i in range(n_chunks + 1)]
    return [table.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]


def _sentinels(table: pa.Table) -> list[pa.Table]:
    """One marker row per ``SENTINEL_DAYS`` entry past ``table``'s max ts."""
    ts_col = table.column("ts")
    max_us = _to_us(pa.compute.max(ts_col), ts_col.type)
    return [
        _sentinel_table(max_us, days, j, ts_col.type)
        for j, days in enumerate(SENTINEL_DAYS)
    ]


def chunked_events_dir(
    sf_dir: str,
    n_chunks: int = DEFAULT_CHUNKS,
    *,
    sentinels: bool = True,
    replay: tuple[int, ...] = (),
    late_chunk: int | None = None,
) -> str:
    """Build (or reuse) a chunk directory for the given variant."""

    def make_chunks() -> list[pa.Table]:
        table = pq.read_table(f"{sf_dir}/events.parquet")
        chunks = _slices(table, n_chunks)
        order = [c for i, c in enumerate(chunks) if i != late_chunk]
        order += [chunks[i] for i in replay]
        if late_chunk is not None:
            # arrives last → late vs the advanced watermark
            order.append(chunks[late_chunk])
        return order + (_sentinels(table) if sentinels else [])

    key = ("events", sf_dir, n_chunks, sentinels, replay, late_chunk)
    return _feed(key, "sss_feed_", make_chunks)


def chunked_table_dir(sf_dir: str, table: str, n_chunks: int = DEFAULT_CHUNKS) -> str:
    """Chunk an arbitrary table into K parquet files (generic micro-batch
    feed for streams without event time — no sentinels needed)."""
    return _feed(
        ("table", sf_dir, table, n_chunks),
        f"sss_feed_{table}_",
        lambda: _slices(pq.read_table(f"{sf_dir}/{table}.parquet"), n_chunks),
    )


def chunked_events_split_dirs(
    sf_dir: str, n_chunks: int = DEFAULT_CHUNKS
) -> tuple[str, str]:
    """Two DISJOINT feeds (even / odd ``event_id``), each chunked and
    carrying its own sentinel — the substrate for the multi-source union
    topology (ST23). Each source needs its own sentinel because Spark's
    global watermark is the MIN across all sources' event-time maxima: a
    sentinel in only one feed leaves the other source's watermark at its
    last real event and the final windows never close (the multi-source
    twin of the filter-pushdown stall documented above). Both sentinels
    are built from the FULL table's max event time so the two sources
    advance in lockstep."""

    def make_chunks(parity: int) -> list[pa.Table]:
        table = pq.read_table(f"{sf_dir}/events.parquet")
        mask = pa.compute.equal(
            pa.compute.bit_wise_and(table.column("event_id"), 1), parity
        )
        return _slices(table.filter(mask), n_chunks) + _sentinels(table)

    return tuple(
        _feed(("split", sf_dir, n_chunks, p), f"sss_feed_p{p}_", lambda: make_chunks(p))
        for p in (0, 1)
    )
