"""WebDataset shard directories as a FIRST-CLASS parallel Spark source
— Spark 4.0 Python DataSource API, sibling of `warc_source`.

Large multimodal training runs ship data as directories of `.tar` /
`.tar.gz` shards whose members pair up into SAMPLES by the
name-up-to-first-dot key ({key}.txt next to {key}.png next to
{key}.json ...). `spark.read.format("felixzh_webdataset")
.option("path", dir)` yields one row per sample: (file, sample_key,
parts map<ext, binary>) — the exact shape a training pipeline's
decode/feature stages consume, with one input partition per SHARD
FILE (tar members only stream forward within a file; files are
independent — the same split law as the WARC source, and at 100 TB
the file count IS the parallelism).

Options: `path` (file/dir/comma list — required), `exts`
(comma-separated extension filter applied while streaming, e.g.
"txt,png" — unwanted members are skipped before Arrow serialization),
`max_part_bytes` (executor-side truncation, default unlimited).
Corrupt shards fail the task loudly (quarantine-at-file granularity;
the `multimodal.webdataset_sample_stats` kernel is the per-row
quarantine form).
"""

from __future__ import annotations

import io
import tarfile

from pyspark.sql.datasource import DataSource, DataSourceReader, \
    InputPartition

from felixzh_flink_spark.sources.warc_source import _expand_paths

SCHEMA_DDL = "file string, sample_key string, parts map<string,binary>"


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _WebdatasetReader(DataSourceReader):
    def __init__(self, options):
        if "path" not in options:
            raise ValueError("felixzh_webdataset requires option 'path'")
        self.files = _expand_paths(options["path"],
                                   (".tar", ".tar.gz", ".tgz"), "tar shards")
        exts = options.get("exts")
        self.exts = (set(e.strip().lstrip(".") for e in exts.split(","))
                     if exts else None)
        self.max_part = int(options.get("max_part_bytes", -1))

    def partitions(self):
        return [_ShardPartition(p) for p in self.files]

    def read(self, partition: _ShardPartition):
        with open(partition.path, "rb") as fh:
            payload = fh.read()
        # WebDataset convention: a sample's members are ADJACENT in the
        # tar, so grouping is a streaming comparison against the
        # previous key — never a whole-shard dict (shards can hold
        # millions of members; memory stays O(one sample))
        current_key = None
        parts: dict = {}
        with tarfile.open(fileobj=io.BytesIO(payload), mode="r:*") as tf:
            for m in tf:
                if not m.isfile():
                    continue
                key, _, ext = m.name.partition(".")
                if self.exts is not None and ext not in self.exts:
                    continue
                if key != current_key:
                    if current_key is not None and parts:
                        yield (partition.path, current_key, parts)
                    current_key, parts = key, {}
                data = tf.extractfile(m).read()
                if 0 <= self.max_part < len(data):
                    data = data[:self.max_part]
                parts[ext] = data
        if current_key is not None and parts:
            yield (partition.path, current_key, parts)


class WebdatasetDataSource(DataSource):
    """`spark.dataSource.register(WebdatasetDataSource)` then
    `spark.read.format("felixzh_webdataset").option("path", dir)` —
    one partition per shard, one row per sample."""

    @classmethod
    def name(cls) -> str:
        return "felixzh_webdataset"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> _WebdatasetReader:
        return _WebdatasetReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(WebdatasetDataSource)
