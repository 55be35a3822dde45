"""TFRecord reading/writing without TensorFlow.

Capability parity with the reference's TFRecord reader
(reference ``oarphpy/util/tfutil.py:305-398``), written fresh against
the public TFRecord wire format: each record is

    uint64  length        (little-endian)
    uint32  masked_crc32c(length bytes)
    bytes   payload[length]
    uint32  masked_crc32c(payload)

with crc32c = Castagnoli CRC-32 and mask(c) = rotr15(c) + 0xa282ead8.

``spark.read.format("tfrecords")`` / ``df.write.format("tfrecords")``
is a PySpark 4 Python DataSource over that framing; the reference
required the TF runtime, here the format is plain bytes and the
planner sees a real source:

* one :class:`InputPartition` per file — TFRecord streams are not
  splittable without an external index, so per-file parallelism is the
  correct (and standard) granularity; lots of files -> lots of tasks.
* ``read`` streams each file and yields Arrow ``RecordBatch``es of at
  most 4096 records or 64 MB (columnar transfer to the JVM, no per-row
  pickling, no whole-file cell), so files of any size read.
* the writer emits one ``part-<id>.tfrecord`` per partition and
  commits are append-only files — idempotent overwrite at the
  directory level, exactly like Spark's file sinks.

Registration is explicit and per-session (:func:`tfrecords_df` does it
for the caller)::

    from oarphpy_spark.sources.tfrecords import register
    register(spark)
    df = spark.read.format("tfrecords").load("/data/*.tfrecord")
"""

from __future__ import annotations

import os
import struct
import uuid
from collections.abc import Iterator
from dataclasses import dataclass
from typing import BinaryIO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from oarphpy_spark.util.fs import input_files

# --- crc32c (Castagnoli, reflected poly 0x82F63B78), table-driven -------
_CRC_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# --- record stream -------------------------------------------------------


def write_tfrecords(fileobj: BinaryIO, records: list[bytes]) -> None:
    for payload in records:
        length = struct.pack("<Q", len(payload))
        fileobj.write(length)
        fileobj.write(struct.pack("<I", masked_crc32c(length)))
        fileobj.write(payload)
        fileobj.write(struct.pack("<I", masked_crc32c(payload)))


def iter_tfrecords(fileobj: BinaryIO, verify: bool = True) -> Iterator[bytes]:
    while True:
        header = fileobj.read(12)
        if len(header) == 0:
            return
        if len(header) < 12:
            raise IOError("truncated TFRecord header")
        (length,) = struct.unpack("<Q", header[:8])
        (len_crc,) = struct.unpack("<I", header[8:12])
        if verify and masked_crc32c(header[:8]) != len_crc:
            raise IOError("TFRecord length crc mismatch")
        payload = fileobj.read(length)
        if len(payload) != length:
            raise IOError("truncated TFRecord payload")
        crc_bytes = fileobj.read(4)
        if len(crc_bytes) != 4:
            raise IOError("truncated TFRecord payload crc")
        (data_crc,) = struct.unpack("<I", crc_bytes)
        if verify and masked_crc32c(payload) != data_crc:
            raise IOError("TFRecord payload crc mismatch")
        yield payload


# --- Spark data source ---------------------------------------------------

TFRECORDS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("record_idx", LongType()),
        StructField("record", BinaryType()),
    ]
)

_BATCH_ROWS = 4096


@dataclass
class _FilePartition(InputPartition):
    path: str


class TFRecordsReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("tfrecords source requires a path")

    def partitions(self):
        # Driver-side listing. Local/posix paths here; object-store
        # deployments list via their own SDK — the partition model
        # (one file, one task) is unchanged.
        return [_FilePartition(p) for p in input_files(self._path)]

    def read(self, partition: _FilePartition | None):
        import pyarrow as pa

        if partition is None:  # Spark's stand-in when no partitions
            return

        def batches():
            # Bound each batch by rows AND bytes: pa.binary() offsets
            # are int32, so one batch must stay well under 2 GB.
            max_bytes = 64 << 20
            idxs: list[int] = []
            recs: list[bytes] = []
            nbytes = 0
            with open(partition.path, "rb") as f:
                for i, rec in enumerate(iter_tfrecords(f)):
                    idxs.append(i)
                    recs.append(rec)
                    nbytes += len(rec)
                    if len(recs) >= _BATCH_ROWS or nbytes >= max_bytes:
                        yield idxs, recs
                        idxs, recs, nbytes = [], [], 0
            if recs:
                yield idxs, recs

        for idxs, recs in batches():
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([partition.path] * len(recs), pa.string()),
                    pa.array(idxs, pa.int64()),
                    pa.array(recs, pa.binary()),
                ],
                names=["path", "record_idx", "record"],
            )


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    final: str
    n_records: int


class TFRecordsWriter(DataSourceWriter):
    """Two-phase commit like Spark's own file sinks: tasks write into a
    hidden ``_staging`` dir (task retries / speculative attempts each
    stage a distinct uuid file, invisible to readers), and only the
    driver-side ``commit`` — called once with exactly one message per
    successful task — publishes the chosen attempt's file. Requires a
    filesystem shared between driver and executors (true for local
    mode and any distributed fs; an object-store deployment would swap
    the rename for its own commit protocol)."""

    def __init__(self, options, overwrite: bool):
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("tfrecords sink requires a path")
        # Constructed driver-side (DataSource.writer), so overwrite can
        # clear prior output before any task runs.
        if overwrite and os.path.isdir(self._dir):
            for f in os.listdir(self._dir):
                if f.endswith(".tfrecord"):
                    os.remove(os.path.join(self._dir, f))

    @property
    def _staging(self) -> str:
        return os.path.join(self._dir, "_staging")

    def write(self, iterator: Iterator) -> _StagedFile:
        """Runs on executors: one staged file per task attempt. The
        ``record`` field (or the single binary column) is the payload."""
        os.makedirs(self._staging, exist_ok=True)
        name = f"part-{uuid.uuid4().hex[:12]}.tfrecord"
        staged = os.path.join(self._staging, name)
        n = 0
        with open(staged, "wb") as f:
            chunk: list[bytes] = []
            for row in iterator:
                data = row["record"] if "record" in row.__fields__ else row[0]
                chunk.append(bytes(data))
                n += 1
                if len(chunk) >= 1024:
                    write_tfrecords(f, chunk)
                    chunk = []
            if chunk:
                write_tfrecords(f, chunk)
        return _StagedFile(
            staged=staged, final=os.path.join(self._dir, name), n_records=n
        )

    def commit(self, messages):
        for m in messages:
            if m is not None:
                os.replace(m.staged, m.final)
        self._cleanup_staging()

    def abort(self, messages):
        self._cleanup_staging()

    def _cleanup_staging(self):
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)


class TFRecordsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tfrecords"

    def schema(self) -> StructType:
        return TFRECORDS_SCHEMA

    def reader(self, schema) -> TFRecordsReader:
        return TFRecordsReader(self.options)

    def writer(self, schema, overwrite: bool) -> TFRecordsWriter:
        return TFRecordsWriter(self.options, overwrite)


def register(spark) -> None:
    """Register the ``tfrecords`` format with a session (idempotent)."""
    spark.dataSource.register(TFRecordsDataSource)


def tfrecords_df(spark: SparkSession, path_glob: str) -> DataFrame:
    """All records of the TFRecord file(s) at ``path_glob`` (file, glob
    or directory, expanded by :func:`~oarphpy_spark.util.fs.input_files`)
    as (path STRING, record_idx BIGINT, record BINARY), read through the
    ``tfrecords`` format, which this registers with ``spark``.
    ``path_glob`` is a local or POSIX-mounted path, resolved against the
    driver's current directory; ``path`` is the absolute file path."""
    register(spark)
    return spark.read.format("tfrecords").load(os.path.abspath(path_glob))
