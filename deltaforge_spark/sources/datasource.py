"""Spark-native custom data sources (PySpark 4 Python DataSource API):
capture archives as first-class ``spark.read.format(...)`` /
``readStream.format(...)`` sources — the idiomatic front door to the
wire decoders, replacing hand-rolled "list files → mapInPandas" call
sites with Catalyst-visible sources that partition, prune, and stream
with offsets like any built-in format.

Both formats are a directory of immutable files taken in sorted-name
order, read by one file-archive reader pair that differs only in the
per-file ``read(path, file_index)``:

- Batch: one input partition PER FILE (the natural parallel unit —
  TABLE_MAP/GTID state is sequential only within a binlog file), so a
  100 TB archive fans out to #files tasks with zero shuffle and no
  driver decode.
- Streaming: a ``SimpleDataSourceStreamReader`` whose offset is
  ``{"files": n, "last": name}`` — the count of committed files plus
  the name of the last one. Each micro-batch reads exactly the newly
  arrived files; replay of an uncommitted batch re-reads the same file
  range (at-least-once, the idempotence keys downstream absorb it). A
  store rewritten under the offset fails loudly
  (``SegmentStoreChangedError``); count-only offsets from older
  checkpoints are still accepted.

Formats:

- ``binlog_segments`` (``BinlogSegmentsDataSource``): MySQL binlog
  segment files decoded by ``binlog.segment_rows``, so rows carry the
  ``decode_binlog_segments`` column contract (``BINLOG_ROW_SCHEMA``)
  and every downstream operator (changefeed assembly, filters,
  envelopes) composes unchanged. Options: ``path``, ``columns_json``
  (optional ``{"db.table": [col, ...]}`` name mapping), ``suffix``
  (default ``.binlog``).
- ``pgoutput_spool`` (``PgoutputSpoolDataSource``): raw pgoutput
  message spools as ``(file, seq, data)`` rows, seq = file index ×
  ``SEQ_STRIDE`` + in-file index, in batch and stream alike. Options:
  ``path``, ``suffix`` (default ``.pgout``).
"""

from __future__ import annotations

import functools
import json
import os
from typing import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .binlog import BINLOG_ROW_SCHEMA, segment_rows

#: per-file seq namespace of ``pgoutput_spool``: files hold < 4B msgs
SEQ_STRIDE = 1 << 32

PGOUTPUT_DDL = "file string, seq long, data binary"


def _columns_of(options: dict) -> dict[tuple[str, str], list[str]] | None:
    raw = options.get("columns_json")
    if not raw:
        return None
    out: dict[tuple[str, str], list[str]] = {}
    for key, cols in json.loads(raw).items():
        db, table = key.split(".", 1)
        out[(db, table)] = list(cols)
    return out


def _list_segments(path: str, suffix: str) -> list[str]:
    try:
        names = sorted(n for n in os.listdir(path) if n.endswith(suffix))
    except FileNotFoundError:
        return []
    return [os.path.join(path, n) for n in names]


def _read_segment(columns, path: str, file_index: int) -> Iterator[tuple]:
    """A binlog segment file's row images (``segment_rows``)."""
    with open(path, "rb") as f:
        return segment_rows(f.read(), columns)


def _read_spool(path: str, file_index: int) -> Iterator[tuple]:
    """A pgoutput spool file: u32-BE length-prefixed messages, the
    capture order preserved by (file order, in-file index)."""
    name = os.path.basename(path)
    base_seq = file_index * SEQ_STRIDE
    with open(path, "rb") as f:
        data = f.read()
    pos, i = 0, 0
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError(f"{name}: truncated length prefix at {pos}")
        n = int.from_bytes(data[pos : pos + 4], "big")
        pos += 4
        if pos + n > len(data):
            raise ValueError(f"{name}: truncated message at {pos}")
        yield (name, base_seq + i, data[pos : pos + n])
        pos += n
        i += 1


def write_spool(path: str, messages: list[bytes]) -> None:
    """Writer half (capture side / fixtures): length-prefixed frames."""
    with open(path, "wb") as f:
        for m in messages:
            f.write(len(m).to_bytes(4, "big") + m)


ReadFile = Callable[[str, int], Iterator[tuple]]


class _FilePartition(InputPartition):
    def __init__(self, path: str, file_index: int):
        self.path = path
        self.file_index = file_index


class _FilesBatchReader(DataSourceReader):
    def __init__(self, options: dict, suffix: str, read: ReadFile):
        self.path = options["path"]
        self.suffix = options.get("suffix", suffix)
        self.read_file = read

    def partitions(self):
        files = _list_segments(self.path, self.suffix)
        # an empty archive still gets one (empty) task: Spark invokes
        # read(None) when partitions() is empty
        return [_FilePartition(p, i) for i, p in enumerate(files)] or [
            _FilePartition("", 0)
        ]

    def read(self, partition) -> Iterator[tuple]:
        if partition is None or not partition.path:
            return iter(())
        return self.read_file(partition.path, partition.file_index)


class SegmentStoreChangedError(RuntimeError):
    """The segment store shrank or was rewritten UNDER a committed
    offset (deletion, compaction, rename between micro-batches).
    File-count offsets only mean anything while the sorted prefix they
    were taken over is immutable — silently re-slicing would skip or
    re-map data, so this fails the stream loudly; the operator decides
    whether to re-snapshot or repoint the checkpoint (the same stance
    as the binlog-purged-on-server detection in recovery.py)."""


def _check_offset_prefix(files: list[str], off: dict, what: str) -> None:
    n = off.get("files", 0)
    if len(files) < n:
        raise SegmentStoreChangedError(
            f"{what}: committed offset covers {n} files but only "
            f"{len(files)} exist — segments were deleted/compacted under "
            "the checkpoint; re-snapshot or reset the checkpoint"
        )
    last = off.get("last")
    if n and last is not None and os.path.basename(files[n - 1]) != last:
        raise SegmentStoreChangedError(
            f"{what}: file #{n} is {os.path.basename(files[n - 1])!r} but the "
            f"committed offset was taken over {last!r} — the sorted prefix "
            "changed (rename/compaction); offsets no longer map to the "
            "same data"
        )


def _offset_of(files: list[str], n: int) -> dict:
    return {
        "files": n,
        "last": os.path.basename(files[n - 1]) if n else None,
    }


class _FilesStreamReader(SimpleDataSourceStreamReader):
    """Offset = number of files (in sorted-name order) fully committed,
    plus the NAME of the last committed file so a store rewritten under
    the checkpoint (deletion/compaction/rename) fails loudly instead of
    silently skipping or remapping (VERDICT r5 #9). Sorted-name tailing
    matches binlog and WAL naming (``binlog.000001``...): new files
    sort after old ones. Files must be append-complete when they appear
    (the rotate contract). A file is read with its absolute index, so a
    resumed stream numbers it as a batch read does."""

    def __init__(self, options: dict, suffix: str, read: ReadFile, what: str):
        self.path = options["path"]
        self.suffix = options.get("suffix", suffix)
        self.read_file = read
        self.what = what

    def initialOffset(self) -> dict:
        return {"files": 0, "last": None}

    def _rows(self, files: list[str], start: int, end: int) -> Iterator[tuple]:
        rows: list[tuple] = []  # materialized: the API copies/caches this
        for i in range(start, end):
            rows.extend(self.read_file(files[i], i))
        # an iterator, not the list: PySpark calls next() on it when
        # the trigger found no new file
        return iter(rows)

    def read(self, start: dict):
        files = _list_segments(self.path, self.suffix)
        _check_offset_prefix(files, start, f"{self.what} stream")
        end = _offset_of(files, len(files))
        return self._rows(files, start["files"], len(files)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay of an uncommitted range: deterministic re-read of the
        # same sorted file slice — valid only while that slice is intact
        files = _list_segments(self.path, self.suffix)
        _check_offset_prefix(files, end, f"{self.what} stream (replay)")
        return self._rows(files, start["files"], end["files"])

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to clean


class _FileArchiveSource(DataSource):
    """A directory of immutable files read through the shared batch and
    stream readers; a format supplies its name, schema, default suffix
    and per-file ``read(path, file_index)``."""

    suffix = ""

    def read_file(self) -> ReadFile:
        raise NotImplementedError

    def reader(self, schema) -> DataSourceReader:
        return _FilesBatchReader(self.options, self.suffix, self.read_file())

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _FilesStreamReader(
            self.options, self.suffix, self.read_file(), self.name()
        )


class PgoutputSpoolDataSource(_FileArchiveSource):
    """Raw pgoutput message spools as a Spark format: yields
    (file, seq, data) rows that feed ``decode_pgoutput`` /
    ``decode_pgoutput_messages`` unchanged — the source owns framing
    and ordering, the decoder owns the grammar. seq is globally ordered
    by (sorted file, in-file index), so tx stamping downstream
    (decode_pgoutput's interval join) sees capture order."""

    suffix = ".pgout"

    @classmethod
    def name(cls) -> str:
        return "pgoutput_spool"

    def schema(self) -> str:
        return PGOUTPUT_DDL

    def read_file(self) -> ReadFile:
        return _read_spool


class BinlogSegmentsDataSource(_FileArchiveSource):
    """``spark.dataSource.register(BinlogSegmentsDataSource)`` then
    ``spark.read.format("binlog_segments").option("path", dir).load()``."""

    suffix = ".binlog"

    @classmethod
    def name(cls) -> str:
        return "binlog_segments"

    def schema(self):
        return BINLOG_ROW_SCHEMA

    def read_file(self) -> ReadFile:
        return functools.partial(_read_segment, _columns_of(self.options))


def register(spark) -> None:
    """Idempotent registration of all custom sources."""
    spark.dataSource.register(BinlogSegmentsDataSource)
    spark.dataSource.register(PgoutputSpoolDataSource)
