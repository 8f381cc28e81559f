"""`.warc.gz` files as a FIRST-CLASS parallel Spark source — Spark 4.0
Python DataSource API over `functions/warc_codec`.

The ingestion edge of the LLM-pipeline brief: web crawls arrive as
directories of `.warc.gz` files (one gzip member per WARC record).
`spark.read.format("felixzh_warc").option("path", dir)` turns them into
rows of (file, record_idx, warc_type, record_id, target_uri,
content_length, block) with one input partition per FILE — the natural
split unit, since gzip members only stream forward within a file while
files are independent. At 100 TB the parallelism is the file count
(crawl dumps ship tens of thousands of files), each task streaming one
file's members without materializing the whole archive.

Options: `path` (file, directory, or comma-separated list — required),
`types` (comma-separated WARC-Type filter applied DURING the scan, e.g.
"response" — filtered records are skipped before Arrow serialization,
the cheap 90% cut in real crawls), `max_block_bytes` (truncate blocks
on the executor side, default unlimited). Corrupt files fail the task
loudly (ValueError from the codec) — quarantine-at-file granularity;
use the binary-column kernels for per-record quarantine.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

SCHEMA_DDL = ("file string, record_idx int, warc_type string, "
              "record_id string, target_uri string, "
              "content_length bigint, block binary")


_WARC_SUFFIXES = (".warc", ".warc.gz")


def _expand_paths(path_opt: str, suffixes: "tuple[str, ...]",
                  noun: str) -> "list[str]":
    """The file list of a file source's `path` option (a file, a
    directory, or a comma-separated list of either): directories
    contribute their files ending in one of `suffixes`, sorted; named
    files are taken as given. An empty result raises ValueError naming
    `noun`. Shared with `webdataset_source`."""
    files: list[str] = []
    for p in path_opt.split(","):
        p = p.strip()
        if not p:
            continue
        if os.path.isdir(p):
            files.extend(sorted(
                os.path.join(p, f) for f in os.listdir(p)
                if f.endswith(suffixes)))
        else:
            files.append(p)
    if not files:
        raise ValueError(f"no {noun} under {path_opt!r}")
    return files


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _WarcReader(DataSourceReader):
    def __init__(self, options):
        if "path" not in options:
            raise ValueError("felixzh_warc requires option 'path'")
        self.files = _expand_paths(options["path"], _WARC_SUFFIXES,
                                   "WARC files")
        types = options.get("types")
        self.types = (set(t.strip() for t in types.split(","))
                      if types else None)
        self.max_block = int(options.get("max_block_bytes", -1))

    def partitions(self):
        return [_FilePartition(p) for p in self.files]

    def read(self, partition: _FilePartition):
        yield from _WarcReaderCore(
            self.types, self.max_block).read_file(partition.path)


class _WarcStreamReader(DataSourceStreamReader):
    """Continuous crawl ingestion: watch a directory for NEW `.warc(.gz)`
    segment files and emit each exactly once. The offset is the count
    of files consumed under the LEXICOGRAPHIC order of file names —
    crawl dumps name segments monotonically (seg-00001, seg-00002,
    ...), which is the documented contract: a new file must sort after
    every consumed one, or it is skipped. Replayed (start, end) ranges
    re-read the same files, so the source is replay-safe the same way
    the datagen stream is; a consumed file must stay in place until
    its batch commits."""

    def __init__(self, options):
        if "path" not in options:
            raise ValueError("felixzh_warc requires option 'path'")
        self.path = options["path"]
        types = options.get("types")
        self.types = (set(t.strip() for t in types.split(","))
                      if types else None)
        self.max_block = int(options.get("max_block_bytes", -1))
        self.max_files_per_batch = int(
            options.get("max_files_per_batch", 10))
        self._current = 0

    def _listing(self) -> "list[str]":
        if not os.path.isdir(self.path):
            return []
        return sorted(
            os.path.join(self.path, f) for f in os.listdir(self.path)
            if f.endswith(_WARC_SUFFIXES))

    def initialOffset(self):
        return {"n": 0}

    def latestOffset(self):
        # advance by at most the per-batch file budget — the cap lives
        # HERE, not in partitions(): an offset the engine has recorded
        # must name exactly the files the batch read, or capped files
        # would be marked consumed without ever being read
        self._current = min(self._current + self.max_files_per_batch,
                            len(self._listing()))
        return {"n": self._current}

    def partitions(self, start: dict, end: dict):
        # restart resync: ratchet the cursor to every offset the engine
        # shows us (same contract as the datagen stream reader)
        self._current = max(self._current, start["n"], end["n"])
        lo, hi = start["n"], end["n"]
        files = self._listing()
        if hi <= lo or lo >= len(files):
            return [_FilePartition("")]          # empty batch
        return [_FilePartition(p) for p in files[lo:min(hi, len(files))]]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        yield from _WarcReaderCore(
            self.types, self.max_block).read_file(partition.path)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class _WarcReaderCore:
    """The shared per-file record walk (batch reader + stream reader)."""

    def __init__(self, types, max_block):
        self.types = types
        self.max_block = max_block

    def read_file(self, path: str):
        from felixzh_flink_spark.functions.warc_codec import decode_warc

        with open(path, "rb") as fh:
            payload = fh.read()
        for idx, (headers, block) in enumerate(decode_warc(payload)):
            wtype = headers.get("WARC-Type")
            if self.types is not None and wtype not in self.types:
                continue
            if 0 <= self.max_block < len(block):
                block = block[:self.max_block]
            yield (path, idx, wtype,
                   headers.get("WARC-Record-ID"),
                   headers.get("WARC-Target-URI"),
                   int(headers.get("Content-Length", -1)), block)


class _WarcCommit(WriterCommitMessage):
    def __init__(self, path: str, n_records: int):
        self.path = path
        self.n_records = n_records


class _WarcWriter(DataSourceWriter):
    """One `.warc.gz` output file PER PARTITION (the crawl-dump shape:
    a directory of independently-readable segment files; at scale the
    file count is the write parallelism, matching the reader's
    partition-per-file split). Input rows need `block` (binary) and
    optionally `warc_type` / `record_id` / `target_uri`; each record
    becomes its own gzip member so downstream readers can split it."""

    def __init__(self, options, overwrite: bool):
        if "path" not in options:
            raise ValueError("felixzh_warc requires option 'path'")
        self.path = options["path"]
        self.overwrite = overwrite
        # Overwrite = truncate: clear prior segments HERE (driver-side,
        # before any partition task runs) — the unique timestamped
        # segment names below never collide with old files, so without
        # this a mode('overwrite') write would silently behave as
        # append and a subsequent read would return duplicated records.
        if overwrite and os.path.isdir(self.path):
            for name in os.listdir(self.path):
                if name.endswith(_WARC_SUFFIXES):
                    os.remove(os.path.join(self.path, name))

    def write(self, iterator) -> _WarcCommit:
        from pyspark import TaskContext

        from felixzh_flink_spark.functions.warc_codec import encode_warc

        pid = TaskContext.get().partitionId()
        records = []
        for row in iterator:
            d = row.asDict()
            headers = {"WARC-Type": d.get("warc_type") or "resource"}
            if d.get("record_id"):
                headers["WARC-Record-ID"] = d["record_id"]
            if d.get("target_uri"):
                headers["WARC-Target-URI"] = d["target_uri"]
            block = d.get("block")
            records.append((headers,
                            bytes(block) if block is not None else b""))
        os.makedirs(self.path, exist_ok=True)
        # Segment names must be (a) unique ACROSS write jobs — a fixed
        # part-<pid> name made a second append silently clobber the
        # first job's segments — and (b) lexicographically AFTER every
        # previously written segment, so the streaming reader's
        # monotonic-name offset contract picks appended batches up.
        # A millisecond wall stamp + pid + random suffix gives both
        # (the stamp orders jobs, the suffix de-collides concurrent
        # writers landing in the same millisecond).
        import time
        import uuid

        out = os.path.join(
            self.path,
            f"part-{int(time.time() * 1000):013d}-{pid:05d}"
            f"-{uuid.uuid4().hex[:8]}.warc.gz")
        if records:
            with open(out, "wb") as fh:
                fh.write(encode_warc(records, gzip_per_record=True))
        return _WarcCommit(out, len(records))

    def commit(self, messages) -> None:
        pass

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class WarcDataSource(DataSource):
    """`spark.dataSource.register(WarcDataSource)` then
    `spark.read.format("felixzh_warc").option("path", dir)` — one
    partition per `.warc(.gz)` file, records streamed per member — or
    `df.write.format("felixzh_warc").option("path", dir)` — one
    `.warc.gz` segment file per partition."""

    @classmethod
    def name(cls) -> str:
        return "felixzh_warc"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> _WarcReader:
        return _WarcReader(self.options)

    def streamReader(self, schema) -> _WarcStreamReader:
        return _WarcStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> _WarcWriter:
        return _WarcWriter(self.options, overwrite)


def register(spark) -> None:
    spark.dataSource.register(WarcDataSource)
