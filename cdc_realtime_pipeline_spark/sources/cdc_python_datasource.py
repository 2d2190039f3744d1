"""Spark-4 Python DataSource for the CDC envelope "topic" — the
custom-connector seam.

The reference's source is a Kafka topic consumed by a dedicated
connector (CdcPipelineJob.java:52-58); this environment has no broker,
so the engine's official transport is the JSON-line file topic
(`cdc_file_source.py`, read with the JVM text source — the production
path). THIS module exercises the third leg of the source story: the
Spark 4.0 **Python DataSource API** (`pyspark.sql.datasource`,
SPARK-44076) — what a team would write for a transport Spark has no
built-in connector for. It exposes the SAME topic directory under the
Kafka message contract:

    value STRING, source_file STRING, partition INT, offset LONG

`partition` ≙ topic file index ≙ Kafka partition (per-file line order
IS the per-partition order, so `offset` is the within-partition
sequence number exactly as Kafka numbers it), and every downstream
semantic (parse, dedup, window agg) runs unchanged on `value`. Task
granularity is finer than the partition id where it pays: files past
the derived split size are cut at newline boundaries into byte-range
InputPartitions carrying their prefix line count (round 13, guide §2 —
a 4-file fixture topic otherwise parses on 4 of 32 cores), without
touching the (partition, offset) contract.

Read-path rows cross the Python worker boundary (the API's nature) —
that is why the JVM text source stays the default transport and this
row is a CONFORMANCE row for the extension seam, like the UDTF/UDAF
pair (extended.py): it proves a user can plug a bespoke transport into
this engine without touching the parse layer. Filter pushdown
(`pushFilters`, Spark 4.1) IS implemented where it can prune I/O: the
payload is opaque JSON (nothing semantic prunes below the parse), but
predicates on the TRANSPORT `partition` column skip whole topic files
before a byte is read — the consumer-side partition subscription.
Requires ``spark.sql.python.filterPushdown.enabled`` (Spark asserts if
a reader defines pushFilters while the flag is off), which
``ensure_engine_conf`` sets on any session the engine touches.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from cdc_realtime_pipeline_spark.session import default_cpus, set_worker_pythonpath


class CdcEnvelopeDataSource(DataSource):
    """``spark.read.format("cdc_envelope").option("path", dir)`` over a
    JSON-line topic directory written by ``write_cdc_topic`` —
    batch AND streaming (``spark.readStream.format("cdc_envelope")``):
    the streaming side tracks a replayable offset
    (``{"files_read": n}``) exactly like a consumer-group position, so
    restart/replay semantics come from the engine's offset log, not
    the connector."""

    @classmethod
    def name(cls) -> str:
        return "cdc_envelope"

    def schema(self) -> str:
        return "value string, source_file string, partition int, offset long"

    def reader(self, schema) -> "CdcEnvelopeReader":
        return CdcEnvelopeReader(self.options)

    def simpleStreamReader(self, schema) -> "CdcEnvelopeStreamReader":
        return CdcEnvelopeStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "CdcEnvelopeWriter":
        return CdcEnvelopeWriter(self.options, overwrite)


# Byte-range split sizing for the batch reader (round 13, guide §2/§6):
# one InputPartition per topic file caps scan+parse parallelism at the
# file count (a 4-file fixture topic parses on 4 of 32 cores). Files
# larger than the derived split size are cut at newline boundaries into
# byte-range splits — same (partition=file idx, offset=line#) contract,
# computed from per-split prefix line counts. The floor keeps tiny
# fixture topics on the one-partition-per-file fast path (and the
# pre-split pytest contract pins); the cap bounds per-task read buffers.
_MIN_SPLIT_BYTES = 1 << 20
_MAX_SPLIT_BYTES = 64 << 20


def _topic_files(path: str) -> list[str]:
    """Paths of the topic's ``part-*`` files in partition order."""
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )


def _file_splits(data: bytes, split_bytes: int):
    """Cut ``data`` (one topic file) at the first newline at/after each
    ``split_bytes`` mark. Yields (byte_start, byte_end, line_start)
    where line_start is the number of non-empty lines before the split
    — the within-file Kafka offset of the split's first line."""
    size = len(data)
    cuts = [0]
    pos = split_bytes
    while pos < size:
        nl = data.find(b"\n", pos)
        if nl == -1:
            break
        cuts.append(nl + 1)
        pos = nl + 1 + split_bytes
    cuts.append(size)
    # the topic format never writes blank lines (write_cdc_topic /
    # CdcEnvelopeWriter emit "\n"-joined non-empty JSON), so the prefix
    # count is the newline count; the split() fallback stays exact if a
    # foreign file ever violates that
    blank_free = not data.startswith(b"\n") and data.count(b"\n\n") == 0
    out, line_off = [], 0
    for a, b in zip(cuts, cuts[1:]):
        if a >= b:
            continue
        if blank_free:
            n = data.count(b"\n", a, b)
            if b == size and not data.endswith(b"\n") and size > 0:
                n += 1
        else:
            n = sum(1 for ln in data[a:b].split(b"\n") if ln)
        out.append((a, b, line_off))
        line_off += n
    return out


class CdcEnvelopeReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("cdc_envelope requires option 'path'")
        self._path = path
        self._partition_pred = None  # (op, value) pruning on `partition`
        # 0/unset → derive from topic size and target parallelism
        self._split_bytes = int(options.get("split_bytes", "0"))

    def pushFilters(self, filters):
        """Spark-4.1 filter pushdown (SPARK-48788 family): the payload
        is opaque JSON — nothing semantic prunes below the parse — but
        the TRANSPORT metadata does: an equality/range predicate on
        ``partition`` skips whole topic files before a byte is read,
        exactly the partition pruning a Kafka consumer gets by
        subscribing to specific partitions. Supported filters are
        consumed here and visible to ``partitions()``; everything else
        is returned for Spark to evaluate post-scan."""
        import operator

        from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

        ops = {EqualTo: operator.eq, GreaterThan: operator.gt, LessThan: operator.lt}
        remaining = []
        for f in filters:
            op = ops.get(type(f))
            if (
                op is not None
                and tuple(f.attribute) == ("partition",)
                and isinstance(f.value, int)
                and self._partition_pred is None
            ):
                self._partition_pred = (op, f.value)
            else:
                remaining.append(f)
        return remaining

    def partitions(self):
        # the file index IS the "Kafka partition" id; a pushed predicate
        # on `partition` prunes files HERE, before any read. Files past
        # the derived split size additionally cut into byte-range
        # sub-splits (round 13): `partition` stays the file index and
        # `offset` the within-FILE line number, so the Kafka contract is
        # unchanged — only the task granularity moves.
        paths = list(enumerate(_topic_files(self._path)))
        if self._partition_pred is not None:
            op, v = self._partition_pred
            paths = [(i, p) for i, p in paths if op(i, v)]
        sizes = {p: os.path.getsize(p) for _, p in paths}
        split_bytes = self._split_bytes or min(
            _MAX_SPLIT_BYTES,
            max(
                _MIN_SPLIT_BYTES,
                -(-sum(sizes.values()) // default_cpus()),
            ),
        )
        parts = []
        for i, p in paths:
            if sizes[p] <= split_bytes:
                # whole file, no driver-side scan needed
                parts.append(InputPartition((i, p, None, None, 0)))
                continue
            with open(p, "rb") as fh:
                data = fh.read()
            parts.extend(
                InputPartition((i, p, a, b, line_start))
                for a, b, line_start in _file_splits(data, split_bytes)
            )
        return parts

    def read(self, partition):
        # Arrow batches instead of per-row tuples (round 13, guide §4):
        # the Python DataSource API accepts pyarrow.RecordBatch yields,
        # which crosses the worker boundary columnar instead of
        # pickling every row — measured ~2× on the batch roundtrip.
        # Chunked so one split never materializes as one giant batch
        # (bounds worker memory, keeps batches stream-friendly).
        import pyarrow as pa

        idx, fpath, byte_start, byte_end, line_start = partition.value
        fname = os.path.basename(fpath)
        chunk = 20_000
        with open(fpath, "rb") as fh:
            if byte_start:
                fh.seek(byte_start)
            blob = fh.read(
                None if byte_end is None else byte_end - (byte_start or 0)
            )
        offset = line_start
        lines: list[str] = []
        for line in blob.decode("utf-8").split("\n"):
            if line:
                lines.append(line)
                if len(lines) >= chunk:
                    yield self._batch(pa, lines, fname, idx, offset)
                    offset += len(lines)
                    lines = []
        if lines:
            yield self._batch(pa, lines, fname, idx, offset)

    @staticmethod
    def _batch(pa, lines, fname, idx, offset):
        n = len(lines)
        return pa.RecordBatch.from_arrays(
            [
                pa.array(lines, type=pa.string()),
                pa.array([fname] * n, type=pa.string()),
                pa.array([idx] * n, type=pa.int32()),
                pa.array(range(offset, offset + n), type=pa.int64()),
            ],
            names=["value", "source_file", "partition", "offset"],
        )


class CdcEnvelopeStreamReader(SimpleDataSourceStreamReader):
    """Streaming leg (SPARK-44076's SimpleDataSourceStreamReader): the
    source's offset is the count of fully-consumed topic files —
    serialized into the query's offset log, so exactly-once restart /
    replay is the ENGINE's job (``readBetweenOffsets`` re-serves any
    committed range deterministically, the consumer-group contract).
    ``read`` drains to the current end of log (Kafka latest-offset
    semantics — availableNow then terminates after one batch), and
    every row list is MATERIALIZED (the prefetch cache deep-copies
    entries; generators don't survive that)."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("cdc_envelope requires option 'path'")
        self._path = path

    @staticmethod
    def _emit(idx: int, fpath: str) -> list[tuple]:
        out = []
        with open(fpath, encoding="utf-8") as fh:
            offset = 0
            for line in fh:
                line = line.rstrip("\n")
                if line:
                    out.append((line, os.path.basename(fpath), idx, offset))
                    offset += 1
        return out

    def initialOffset(self) -> dict:
        return {"files_read": 0}

    def read(self, start: dict):
        files = _topic_files(self._path)
        return self._rows(files, start["files_read"], len(files)), {"files_read": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(_topic_files(self._path), start["files_read"], end["files_read"])

    def _rows(self, files: list[str], lo: int, hi: int) -> list[tuple]:
        return [row for i in range(lo, hi) for row in self._emit(i, files[i])]


class _CdcCommit(WriterCommitMessage):
    def __init__(self, tmp_name: str) -> None:
        self.tmp_name = tmp_name


class CdcEnvelopeWriter(DataSourceArrowWriter):
    """Sink leg — the task-temp + job-commit protocol every
    transactional Spark sink implements: each task streams its rows'
    ``value`` column to a ``.tmp-`` staging file and returns its name
    as the commit message; ``commit`` (driver, after ALL tasks
    succeed) renames staging → ``part-<i>`` in one pass, ``abort``
    deletes staging — so a failed/speculated task never leaves
    readable output, the same all-or-nothing story as
    write-audit-publish (operators/maintenance.py). Output is
    byte-compatible with ``write_cdc_topic``' topic layout, so
    the connector's own readers (batch + stream) consume it.

    Arrow variant (round 13, guide §4): rows arrive as
    ``pyarrow.RecordBatch``es — the ``value`` column is drained
    per batch instead of unpickling every row."""

    def __init__(self, options, overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("cdc_envelope requires option 'path'")
        self._path = path
        self._overwrite = overwrite

    def write(self, iterator) -> _CdcCommit:
        import uuid as _uuid

        os.makedirs(self._path, exist_ok=True)
        tmp = f".tmp-{_uuid.uuid4().hex}"
        with open(os.path.join(self._path, tmp), "w", encoding="utf-8") as fh:
            for batch in iterator:
                vals = batch.column(0).to_pylist()
                if vals:
                    fh.write("\n".join(vals))
                    fh.write("\n")
        return _CdcCommit(tmp)

    def commit(self, messages) -> None:
        if self._overwrite:
            for f in os.listdir(self._path):
                if f.startswith("part-"):
                    os.remove(os.path.join(self._path, f))
        for i, m in enumerate(messages):
            os.rename(
                os.path.join(self._path, m.tmp_name),
                os.path.join(self._path, f"part-{i:05d}"),
            )

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(os.path.join(self._path, m.tmp_name))
            except FileNotFoundError:
                pass


_REGISTER_LOCK = threading.Lock()
_REGISTERED_ATTR = "_cdc_envelope_registered"


def register(spark) -> None:
    """Idempotent, once-per-session registration of the format name.

    Registration pickles the DataSource class across py4j and swaps the
    session's lookup entry; doing that concurrently with another
    thread's ``lookupDataSource`` (the repo-wide plan sweep builds
    queries from a thread pool) intermittently fails the
    in-flight ``save()``. A flag on the session object itself (not its
    ``id``, which a later session can reuse) plus a module-level lock
    makes repeat calls free and first calls race-safe. The pickled
    class carries the session's Python worker path, so that is set
    first."""
    if getattr(spark, _REGISTERED_ATTR, False):
        return
    with _REGISTER_LOCK:
        if getattr(spark, _REGISTERED_ATTR, False):
            return
        set_worker_pythonpath(spark)
        spark.dataSource.register(CdcEnvelopeDataSource)
        setattr(spark, _REGISTERED_ATTR, True)
