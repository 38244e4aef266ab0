"""FCS files as a Spark 4 Python Data Source (`format("fcs")`).

The idiomatic connector form of sources/fcs.read_fcs_long: after
`spark.dataSource.register(FCSDataSource)`, any reader can say

    spark.read.format("fcs").load("/path/to/dir")

and get the engine's long format (sample_id, event_id, channel,
value) with one input partition per .fcs file — files are parsed
executor-side and emitted as Arrow RecordBatches (the fast path of
the Python Data Source API; no per-row Python).

Scale: planning lists files driver-side (same as any file source);
each partition is one file, so a 100k-file archive fans out to 100k
tasks with zero cross-file coordination. For few-but-huge files,
read_fcs_long's binaryFile+mapInPandas path has identical semantics —
the two share parse_fcs_bytes and the long-frame builder, and the
equivalence is asserted in tests/test_fcs.py.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

FCS_DDL_SCHEMA = "sample_id string, event_id bigint, channel string, value double"


def _file_frame(path: str):
    """One .fcs file in the long format, as read_fcs_long builds it."""
    from fcs_etl_reactor_spark.sources.fcs import _long_frame, parse_fcs_bytes

    with open(path, "rb") as fh:
        _, channels, mat = parse_fcs_bytes(fh.read())
    return _long_frame(os.path.basename(path), channels, mat)


class FCSFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class FCSDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('fcs') requires .load(<file-or-dir>)")

    def partitions(self):
        if os.path.isdir(self.path):
            paths = sorted(glob.glob(os.path.join(self.path, "*.fcs")))
        else:
            paths = sorted(glob.glob(self.path)) or [self.path]
        if not paths:
            raise FileNotFoundError(f"no .fcs files under {self.path}")
        return [FCSFilePartition(p) for p in paths]

    def read(self, partition: FCSFilePartition):
        # Executor-side: parse ONE file, emit one Arrow batch. Imports
        # stay inside read() so the planner never needs numpy/pyarrow.
        import pyarrow as pa

        yield pa.RecordBatch.from_pandas(_file_frame(partition.path), preserve_index=False)


class FCSDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fcs"

    def schema(self) -> str:
        return FCS_DDL_SCHEMA

    def reader(self, schema) -> FCSDataSourceReader:
        return FCSDataSourceReader(self.options)

    def simpleStreamReader(self, schema) -> "FCSStreamReader":
        return FCSStreamReader(self.options)


def register(spark) -> None:
    """Idempotent session registration of the `fcs` format."""
    spark.dataSource.register(FCSDataSource)


# ---------------------------------------------------------------------------
# Streaming flavor: `spark.readStream.format("fcs").load(dir)` tails a
# directory of .fcs files. Offsets carry the SET of processed file
# names (like Spark's FileStreamSource seen-files log), NOT positions
# in a sorted listing: a file whose name sorts before already-committed
# files can arrive late and still be picked up, and replay between two
# committed offsets re-reads exactly the files whose names are in
# end−start — the determinism Structured Streaming's recovery contract
# requires (readBetweenOffsets), independent of arrival order.
# Offset size grows with file count; a production spool would compact
# with a name watermark + recent-files tail, but a per-batch name list
# is exact and bounded by the spool directory's size here.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader


def _parse_file_rows(path: str):
    return _file_frame(path).itertuples(index=False, name=None)


class FCSStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("streaming format('fcs') requires .load(<dir>)")

    def _files(self):
        return sorted(glob.glob(os.path.join(self.path, "*.fcs")))

    def _seen(self, offset) -> set[str]:
        if "files" in offset:
            return set(offset["files"])
        # Back-compat: pre-fix checkpoints stored {"n": count} over a
        # sorted listing; translate by taking the first n current names
        # (best effort — the old scheme was order-dependent by design).
        n = int(offset.get("n", 0))
        return {os.path.basename(p) for p in self._files()[:n]}

    def initialOffset(self):
        return {"files": []}

    def read(self, start):
        seen = self._seen(start)
        files = self._files()
        fresh = [p for p in files if os.path.basename(p) not in seen]
        rows = [r for p in fresh for r in _parse_file_rows(p)]
        end = {"files": sorted(seen | {os.path.basename(p) for p in fresh})}
        return iter(rows), end

    def readBetweenOffsets(self, start, end):
        # Replay exactly the names committed in end−start, whatever the
        # current directory listing order looks like.
        todo = self._seen(end) - self._seen(start)
        files = [p for p in self._files() if os.path.basename(p) in todo]
        return iter(r for p in files for r in _parse_file_rows(p))
