"""Streaming Python data source that REPLAYS a parquet table in
deterministic offset slices — the streaming half of the Python
DataSource API (the batch half is the ``archive`` and ``tfrecords``
readers in sources/archive.py and sources/tfrecords.py).

``SimpleDataSourceStreamReader`` contract: ``read(start)`` returns
(rows, next_offset) and Spark persists the offset range per
micro-batch; on failure/replay it calls ``readBetweenOffsets(start,
end)``, which MUST reproduce the same rows — trivially true here
because slices are pure functions of (row offset range) over an
immutable file. That exactly-once-replay property is what the
restart test pins.

Scale note: the reader yields Arrow-batch slices by ROW RANGE, so a
production variant shards by file/row-group exactly like the batch
parquet source; the feed is bounded (a replay), so a drain loop can
await the known row count instead of a watermark."""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

REPLAY_SLICES = 4


def _read_slice(path: str, start_row: int, end_row: int):
    """Rows [start_row, end_row) of the parquet file as python tuples
    (event_id, user_id, epoch-us hour bucket, centi-quantized value).
    Pure function of the offset range — the replay guarantee."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        path, columns=["event_id", "ts", "user_id", "value"]
    ).slice(start_row, max(end_row - start_row, 0))
    ev = t.column("event_id").to_pylist()
    ts = t.column("ts").to_pylist()
    uid = t.column("user_id").to_pylist()
    val = t.column("value").to_pylist()

    import calendar
    from datetime import timezone

    def hour_us(x) -> int:
        if isinstance(x, int):  # raw int64 physical form (ns or us)
            us = x // 1000 if x > 10**16 else x
        else:
            if x.tzinfo is not None:
                x = x.astimezone(timezone.utc)
            # integer path (never float seconds): exact to the us
            us = calendar.timegm(x.timetuple()) * 1_000_000 + x.microsecond
        return us - us % 3_600_000_000

    from decimal import ROUND_HALF_UP, Decimal

    def centi(v: float) -> int:
        # Half-AWAY-from-zero on the exact binary expansion of
        # v * 100 — Decimal(float) is the same exact expansion Java's
        # BigDecimal(double) sees, so this matches Spark F.round and
        # DuckDB ROUND bit-for-bit. Python's builtin round() is
        # banker's (half-to-even) and would diverge from the oracle
        # on any value whose v*100 is an exact binary .5.
        return int(
            Decimal(v * 100).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )

    return [
        (e, u, hour_us(t_), centi(v))
        for e, u, t_, v in zip(ev, uid, ts, val)
    ]


class ReplayStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, path: str, n_rows: int):
        self.path = path
        self.n_rows = n_rows
        self.per = -(-n_rows // REPLAY_SLICES)  # ceil

    def initialOffset(self):
        return {"row": 0}

    def read(self, start):
        lo = start["row"]
        if lo >= self.n_rows:
            return iter([]), start
        hi = min(lo + self.per, self.n_rows)
        return iter(_read_slice(self.path, lo, hi)), {"row": hi}

    def readBetweenOffsets(self, start, end):
        return iter(_read_slice(self.path, start["row"], end["row"]))


class ReplayDataSource(DataSource):
    """format("events_replay") — options: path (parquet file),
    n_rows (total rows, probed driver-side so executors never touch
    the footer)."""

    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, hour_us bigint, v_centi bigint"

    def simpleStreamReader(self, schema):
        return ReplayStreamReader(
            self.options["path"], int(self.options["n_rows"])
        )


def register(spark) -> None:
    spark.dataSource.register(ReplayDataSource)


__all__ = [
    "ReplayDataSource",
    "register",
    "REPLAY_SLICES",
]
