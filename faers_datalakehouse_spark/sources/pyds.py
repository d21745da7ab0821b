"""Python DataSource API integration for versioned tables.

Registers the homegrown :class:`~.versioned.VersionedTable` layout as a
first-class Spark source — ``spark.read.format("versioned_py")`` — via
the Spark 4 Python DataSource API (SPARK-44076), so the snapshot log
participates in Catalyst planning like any V2 source instead of only
through the library's ``read()`` helpers:

- **partition planning from the manifest**: one input partition per
  live data file in the selected snapshot — Spark schedules file-grain
  tasks exactly as a native parquet scan would, and a 1000-executor
  cluster fans out across the manifest with no driver-side scan.
- **filter pushdown → file skipping** (``pushFilters``, 4.1): eq/range
  predicates on columns with recorded per-file min/max stats drop
  whole files BEFORE tasks launch — the Delta data-skipping model run
  through Spark's own pushdown protocol. Every filter is also returned
  to Spark (post-scan re-evaluation), so pruning can only skip files,
  never change results.
- **time travel**: ``.option("version", n)`` selects any snapshot.
- **Arrow batch reads**: workers yield pyarrow RecordBatches (no
  row-at-a-time Python), columns aligned to the snapshot schema with
  schema-evolution nulls and partition-directory values restored.
- **ACID writes** (:class:`VersionedWriter`): ``df.write.format(
  "versioned_py").mode(...)`` stages per-task parquet from Arrow
  batches and publishes one snapshot in ``commit()`` under the
  exclusive-link protocol; file stats come from the parquet footers.
- **streaming source** (:class:`VersionedStreamReader`):
  ``spark.readStream.format("versioned_py")`` tails the snapshot log
  version-by-version — the Delta streaming-source model, including
  ``ignore_changes`` semantics for compacted/rewritten files.

Scope: plain and partitioned snapshots. Tables carrying merge-on-read
tombstones or column-mapping renames refuse loudly (read those through
``VersionedTable.read``, which applies the deletion vectors/mapping);
wiring those through this reader is mechanical but not yet needed by
any driver surface.
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_ARROW_TYPES = {
    "long": "int64",
    "integer": "int32",
    "short": "int16",
    "byte": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool",
    "date": "date32",
    "timestamp_ntz": "timestamp[us]",
}


class _FilePart(InputPartition):
    def __init__(self, path: str, partition: dict | None):
        self.path = path
        self.partition = partition or {}


def _file_batches(path: str, part_values: dict, schema_fields):
    """Worker-side Arrow read of one data file, aligned to the snapshot
    schema: schema-evolution gaps become typed nulls, partition-
    directory values become constant columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    n = table.num_rows
    arrays, names = [], []
    for name, spark_type in schema_fields:
        atype = pa.type_for_alias(_ARROW_TYPES.get(spark_type, "null"))
        if name in part_values:
            arr = pa.array([part_values[name]] * n).cast(atype)
        elif name in table.column_names:
            arr = table.column(name).combine_chunks()
            if arr.type != atype and _ARROW_TYPES.get(spark_type):
                arr = arr.cast(atype)
        else:
            arr = pa.nulls(n, atype)  # schema-evolution gap
        arrays.append(arr)
        names.append(name)
    out = pa.table(arrays, names=names)
    yield from out.to_batches(max_chunksize=65536)


class VersionedReader(DataSourceReader):
    """Manifest-driven reader: plans one partition per live file and
    prunes on pushed filters using the per-file min/max stats."""

    def __init__(self, root: str, schema: StructType, options: dict):
        self.root = root
        self.schema_fields = [
            (f.name, f.dataType.typeName()) for f in schema.fields
        ]
        manifest_dir = Path(root) / "_manifests"
        versions = sorted(
            int(p.stem[1:]) for p in manifest_dir.glob("v*.json")
        )
        if not versions:
            raise ValueError(f"{root}: not a versioned table (no manifests)")
        want = options.get("version")
        version = int(want) if want is not None else versions[-1]
        if version not in versions:
            raise ValueError(f"{root}: no snapshot v{version}")
        snap = json.loads(
            (manifest_dir / f"v{version:08d}.json").read_text()
        )
        extra = snap.get("extra") or {}
        if extra.get("deletes"):
            raise ValueError(
                "versioned_py cannot read tables with merge-on-read "
                "tombstones; use VersionedTable.read"
            )
        if extra.get("column_mapping"):
            raise ValueError(
                "versioned_py cannot read column-mapped tables; use "
                "VersionedTable.read"
            )
        self.entries = snap["files"]
        spec = extra.get("partition_spec") or {}
        self.part_cols = list(spec.get("cols", []))
        self.bounds: list[tuple[str, str, object]] = []

    def pushFilters(self, filters):  # noqa: N802 (API name)
        stat_cols = {
            c for e in self.entries for c in e.get("stats", {})
        }
        for f in filters:
            if (
                isinstance(
                    f,
                    (
                        EqualTo,
                        GreaterThan,
                        GreaterThanOrEqual,
                        LessThan,
                        LessThanOrEqual,
                    ),
                )
                and len(f.attribute) == 1
                and f.attribute[0] in stat_cols
            ):
                self.bounds.append(
                    (f.attribute[0], type(f).__name__, f.value)
                )
        # every filter is re-evaluated by Spark post-scan: pruning may
        # only SKIP files, never stand in for the predicate
        return filters

    def _keep(self, entry: dict) -> bool:
        stats = entry.get("stats", {})
        for col, op, v in self.bounds:
            if col not in stats:
                continue
            lo, hi = stats[col]
            if lo is None or hi is None:
                continue
            if op == "EqualTo" and not (lo <= v <= hi):
                return False
            if op == "GreaterThan" and not (hi > v):
                return False
            if op == "GreaterThanOrEqual" and not (hi >= v):
                return False
            if op == "LessThan" and not (lo < v):
                return False
            if op == "LessThanOrEqual" and not (lo <= v):
                return False
        return True

    def partitions(self):
        return [
            _FilePart(
                str(Path(self.root) / e["path"]), e.get("partition")
            )
            for e in self.entries
            if self._keep(e)
        ]

    def read(self, partition: _FilePart):
        yield from _file_batches(
            partition.path, partition.partition, self.schema_fields
        )


@dataclass
class _WroteFile(WriterCommitMessage):
    relpath: str | None = None
    nbytes: int = 0
    stats: dict | None = None


class VersionedWriter(DataSourceArrowWriter):
    """ACID append/overwrite through ``df.write.format("versioned_py")``.

    Executors stream their Arrow batches straight into staged parquet
    files (one per non-empty task); the driver-side ``commit()`` then
    publishes ONE manifest snapshot via the table's exclusive-link
    protocol — a concurrent writer surfaces as ``ConcurrentWriteError``
    instead of a lost update, and a failed job leaves only unreferenced
    staging files (``abort()`` removes them).

    Per-file min/max stats for ``.option("stats_cols", "a,b")`` come
    from the PARQUET FOOTERS of the staged files — no second Spark job
    over the data, unlike the library writer's census aggregation.

    Refused (loudly): tables with CHECK constraints (validating them
    here would need a Spark job the writer protocol doesn't get) and
    partitioned tables (use ``VersionedTable.write(partition_by=...)``).
    """

    def __init__(self, root: str, schema: StructType, overwrite: bool,
                 options: dict):
        from .versioned import VersionedTable

        self.root = root
        self.schema_json = schema.json()
        self.overwrite = overwrite
        self.committed_at = options.get(
            "committed_at", "1970-01-01T00:00:00Z"
        )
        self.stats_cols = [
            c for c in options.get("stats_cols", "").split(",") if c
        ]
        vt = VersionedTable(root)
        self.parent = vt.current_version()
        if self.parent is not None:
            snap = vt.snapshot(self.parent)
            if snap.constraints:
                raise ValueError(
                    "versioned_py writer cannot validate CHECK "
                    "constraints; use VersionedTable.write"
                )
            if (snap.extra or {}).get("partition_spec"):
                raise ValueError(
                    "versioned_py writer does not partition; use "
                    "VersionedTable.write(partition_by=...)"
                )
        self.stage = f"data/{uuid.uuid4().hex}"

    def write(self, iterator):
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _WroteFile()
        import pyarrow as pa

        table = pa.Table.from_batches(batches)
        rel = f"{self.stage}/part-{uuid.uuid4().hex}.parquet"
        out = Path(self.root) / rel
        out.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, out)
        stats = {}
        if self.stats_cols:
            meta = pq.ParquetFile(out).metadata
            idx = {
                meta.schema.column(i).name: i
                for i in range(meta.num_columns)
            }
            for c in self.stats_cols:
                if c not in idx:
                    continue
                los, his = [], []
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(idx[c]).statistics
                    if st is None or not st.has_min_max:
                        los = []
                        break
                    los.append(st.min)
                    his.append(st.max)
                if los:
                    stats[c] = [min(los), max(his)]
        return _WroteFile(rel, out.stat().st_size, stats or None)

    def commit(self, messages):
        from .versioned import VersionedTable

        vt = VersionedTable(self.root)
        entries = []
        for m in messages:
            if m is None or m.relpath is None:
                continue
            e = {"path": m.relpath, "bytes": m.nbytes}
            if m.stats:
                e["stats"] = m.stats
            entries.append(e)
        if self.overwrite:
            files, extra = entries, {
                "deletes": [],
                "column_mapping": {},
            }
        else:
            prev = (
                vt.snapshot(self.parent).files
                if self.parent is not None
                else []
            )
            files, extra = prev + entries, {}
        vt._commit(
            files,
            "pyds-overwrite" if self.overwrite else "pyds-append",
            self.committed_at,
            schema_json=self.schema_json,
            extra=extra,
            parent_version=self.parent,
        )

    def abort(self, messages):
        import shutil

        shutil.rmtree(Path(self.root) / self.stage, ignore_errors=True)


class VersionedStreamReader(DataSourceStreamReader):
    """Structured Streaming source over the snapshot log — the Delta
    streaming-source model: offsets are snapshot VERSIONS, one
    micro-batch consumes the files ADDED between two versions, and
    executors read them with the same Arrow path as the batch reader.

    Append-only by default: if a file present at the start offset is
    missing at the end offset (compaction, delete, overwrite rewrote
    it), the reader fails the batch rather than silently re-emitting or
    dropping rows; ``.option("ignore_changes", "true")`` opts into
    streaming just the added files across such rewrites (Delta's
    ``ignoreChanges``).

    ``.option("starting_version", n)`` replays history from snapshot
    n+1; the default streams everything from the table's beginning.
    """

    def __init__(self, root: str, schema: StructType, options: dict):
        self.root = root
        self.schema_fields = [
            (f.name, f.dataType.typeName()) for f in schema.fields
        ]
        self.start_version = int(options.get("starting_version", 0))
        self.ignore_changes = (
            str(options.get("ignore_changes", "false")).lower() == "true"
        )

    def _snap(self, version: int) -> dict:
        p = Path(self.root) / "_manifests" / f"v{version:08d}.json"
        return json.loads(p.read_text())

    def _latest(self) -> int:
        vs = [
            int(p.stem[1:])
            for p in (Path(self.root) / "_manifests").glob("v*.json")
        ]
        return max(vs) if vs else 0

    def initialOffset(self) -> dict:  # noqa: N802
        return {"version": self.start_version}

    def latestOffset(self) -> dict:  # noqa: N802
        return {"version": self._latest()}

    def partitions(self, start: dict, end: dict):
        sv, ev = start["version"], end["version"]
        if ev <= sv:
            return []
        old = (
            {e["path"] for e in self._snap(sv)["files"]} if sv > 0 else set()
        )
        snap = self._snap(ev)
        new_files = {e["path"] for e in snap["files"]}
        gone = old - new_files
        if gone and not self.ignore_changes:
            raise ValueError(
                f"versioned_py stream: {len(gone)} file(s) from v{sv} "
                f"were rewritten by v{ev} (compaction/delete/overwrite)"
                "; set .option('ignore_changes', 'true') to stream only "
                "added files, or use changes() for a true change feed"
            )
        if (snap.get("extra") or {}).get("deletes"):
            raise ValueError(
                "versioned_py stream cannot read merge-on-read "
                "tombstoned snapshots; compact first"
            )
        return [
            _FilePart(str(Path(self.root) / e["path"]), e.get("partition"))
            for e in snap["files"]
            if e["path"] not in old
        ]

    def read(self, partition: _FilePart):
        yield from _file_batches(
            partition.path, partition.partition, self.schema_fields
        )

    def commit(self, end: dict) -> None:
        pass


class VersionedDataSource(DataSource):
    """``spark.read.format("versioned_py").option("path", root)``."""

    @classmethod
    def name(cls) -> str:
        return "versioned_py"

    def schema(self):
        root = self.options.get("path")
        if not root:
            raise ValueError("versioned_py requires .option/load path")
        manifest_dir = Path(root) / "_manifests"
        versions = sorted(
            int(p.stem[1:]) for p in manifest_dir.glob("v*.json")
        )
        if not versions:
            raise ValueError(f"{root}: not a versioned table")
        want = self.options.get("version")
        version = int(want) if want is not None else versions[-1]
        snap = json.loads(
            (manifest_dir / f"v{version:08d}.json").read_text()
        )
        if not snap.get("schema"):
            raise ValueError(f"{root}: snapshot v{version} has no schema")
        return StructType.fromJson(json.loads(snap["schema"]))

    def reader(self, schema: StructType) -> VersionedReader:
        return VersionedReader(
            self.options["path"], schema, dict(self.options)
        )

    def writer(self, schema: StructType, overwrite: bool) -> VersionedWriter:
        root = self.options.get("path")
        if not root:
            raise ValueError("versioned_py requires .save(path)")
        return VersionedWriter(root, schema, overwrite, dict(self.options))

    def streamReader(self, schema: StructType) -> VersionedStreamReader:  # noqa: N802
        return VersionedStreamReader(
            self.options["path"], schema, dict(self.options)
        )


def register(spark) -> None:
    # Spark refuses a reader that implements pushFilters while the
    # pushdown protocol is off, so registration enables it (runtime-
    # settable session conf).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(VersionedDataSource)
