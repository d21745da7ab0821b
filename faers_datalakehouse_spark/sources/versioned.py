"""Snapshot-versioned parquet tables: a minimal manifest-log table format.

The reference stores every table as Delta (reference
``src/bronze/ingest_demographics.py:65-67``), whose core ACID ingredients
are (a) an append-only log of snapshots and (b) readers that resolve a
snapshot first and then read exactly the files it lists. No Delta/Iceberg
jars exist in this sandbox (recorded in ARCHITECTURE.md), so this module
implements those two ingredients directly over plain parquet — enough for
the semantics the reference actually relies on:

- **snapshot isolation**: a reader resolves one manifest and sees exactly
  that file set; an in-flight write is invisible until its manifest is
  published with an atomic, EXCLUSIVE ``os.link`` (a taken version fails
  the publish instead of silently replacing it);
- **optimistic concurrency (append-shaped)**: concurrent
  append/overwrite/overwrite-partitions writers conflict only on the
  manifest publish; the loser rebases on the new snapshot (re-deriving
  carried files, re-validating constraints added concurrently) and
  retries WITHOUT rewriting data — Delta's commit-protocol shape.
  State-dependent operations (rewrite/merge/compact) raise
  ``ConcurrentWriteError`` instead, because their staged output was
  derived from a superseded snapshot; the caller re-runs the operation;
- **time travel**: ``read(version=N)`` reads any retained snapshot;
- **transactional compaction**: ``compact()`` writes new files and a new
  manifest — at no instant can a reader observe a partially-compacted
  table (this closes the documented non-transactional window of
  ``sources.maintenance.compact_table`` on live directories).

Data skipping: per-file min/max stats (``read_pruned`` — clustered
columns) and per-file bloom filter indexes (``read_bloom_pruned`` —
point lookups on unclustered columns; Delta bloom-filter-index analog).

One rule per concern: ``VersionedTable._scan`` is the only reader of a
snapshot (partition layout, merge-on-read tombstones, column mapping
and schema order all come from the ``Snapshot``, callers pass only the
files they chose); ``_stats_overlap`` is the one min/max skipping test
(also used by the ``versioned_py`` source); ``_copy_on_write`` is the
one row-level rewrite (``rewrite_where``/``delete_where`` and
``merge_rows``).

Deliberate non-goals (use real Delta/Iceberg on a cluster): a
distributed commit service (the exclusive-link protocol assumes a
filesystem with atomic link semantics — POSIX local/NFS, not S3) and
catalog integration.

Scale notes: manifests hold file paths + sizes only — KBs per snapshot at
thousands of files; resolution is one small JSON read on the driver, and
the data path stays a plain multi-file parquet scan (vectorized reader,
predicate pushdown, partition-size splitting all unchanged).
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _is_file(uri: str, path: str) -> bool:
    """Whether ``uri`` — a data file as ``input_file_name()`` or
    ``_metadata.file_path`` report it — is the manifest's root-relative
    ``path``. The URI is percent-encoded (a partition value with a space
    or a non-ASCII letter, or one Hive already escaped, is spelled
    differently on disk), so it is decoded before the suffix match; the
    ``data/<uuid>/.../part-*.parquet`` tail is unique per file."""
    from urllib.parse import unquote

    return unquote(uri).endswith(path)


def _parse_partition_values(
    relpath: str, cols: list[str]
) -> dict[str, str | None]:
    """Partition values from a staged file's ``col=value`` path segments
    (Hive layout, as ``df.write.partitionBy`` lays them down). Values
    stay in Spark's directory-name encoding (URL-escaped); ``HIVE_NULL``
    maps to None. Raises if any expected column is missing — a manifest
    entry with half a partition tuple is corruption, not a default."""
    from urllib.parse import unquote

    found: dict[str, str | None] = {}
    for seg in relpath.split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        if k in cols:
            found[k] = None if v == HIVE_NULL else unquote(v)
    missing = [c for c in cols if c not in found]
    if missing:
        raise ValueError(
            f"staged file {relpath!r} lacks partition dirs for {missing}"
        )
    return found


def _json_safe(v, side: str = "lo"):
    """Manifest-storable AND skip-comparable stat scalar.

    - dates/timestamps -> ISO strings (lexicographic order == temporal
      order, so ``read_pruned`` comparisons stay correct);
    - Decimal -> float widened OUTWARD by one ulp on the given ``side``
      (``lo`` rounds down, ``hi`` rounds up): json can store it, and the
      rounding can only make skipping more conservative, never wrong;
    - ints/floats/strings/None pass through.
    """
    import datetime as _dt
    import decimal as _dec
    import math as _math

    if isinstance(v, (_dt.date, _dt.datetime)):
        return v.isoformat()
    if isinstance(v, _dec.Decimal):
        f = float(v)
        target = -_math.inf if side == "lo" else _math.inf
        return _math.nextafter(f, target)
    return v


def _stats_overlap(stats: list | None, lo, hi) -> bool:
    """Whether a file whose recorded ``[min, max]`` is ``stats`` may hold
    a value in ``[lo, hi]`` (a None bound is open). The bounds are
    compared in the stats' stored domain (``_json_safe``, widened outward
    like the stats themselves, so the test only errs toward reading). A
    file without stats may hold anything; NULL stats (no non-NULL value,
    or no rows) satisfy no range predicate."""
    if stats is None:
        return True
    if stats[0] is None:
        return False
    if lo is not None and stats[1] < _json_safe(lo, "lo"):
        return False
    return hi is None or stats[0] <= _json_safe(hi, "hi")


def _index_of(f: dict, kind: str, names: list[str]):
    """A file's ``kind`` index (``"stats"`` or ``"bloom"``) for the first
    of a column's physical ``names`` that has one, else None."""
    idx = f.get(kind, {})
    return next((idx[p] for p in names if p in idx), None)


def _bloom_may_contain(idx: dict | None, value) -> bool:
    """The probe side of ``_stage_blooms``: False only if some hash bit
    of ``value`` is unset, so a file holding it is never skipped. A file
    without a bloom index may hold anything."""
    if idx is None:
        return True
    m, words = idx["m"], idx["words"]
    for i in range(idx["k"]):
        digest = hashlib.md5(f"{value}|{i}".encode()).hexdigest()
        h = int(digest[24:32], 16) % m
        # bit_or stored a signed int64; % 2**64 reads it as unsigned
        bits = words.get(str(h // 64), 0) % (1 << 64)
        if not bits >> (h % 64) & 1:
            return False
    return True


def _check_name_free(mapping: dict[str, list[str]], name: str) -> None:
    """A new logical column may not take a physical name that data files
    still carry under another column: reads would resolve the old files'
    values under the new name."""
    if name in {p for ps in mapping.values() for p in ps}:
        raise ValueError(
            f"{name!r} collides with a physical column name still "
            "present in data files; compact() first"
        )


class ConstraintViolation(ValueError):
    """A write violated a table CHECK constraint; nothing was committed."""


class ConcurrentWriteError(RuntimeError):
    """A concurrent writer took the version this commit targeted.

    ``write()`` absorbs this for append-shaped modes by rebasing on the
    new snapshot and retrying (the staged files are reused — no data is
    rewritten); state-dependent operations (rewrite/merge/compact)
    propagate it, because their staged output was derived from a
    snapshot that is no longer current — re-run the operation."""


@dataclass
class Snapshot:
    version: int
    operation: str
    committed_at: str
    files: list[dict]  # {"path": str, "bytes": int}
    # Spark StructType JSON of the committed frame; lets empty snapshots
    # (overwrite-truncate, zero-row merge) stay readable as typed empty
    # frames. None only for pre-schema manifests.
    schema_json: str | None = None
    # table-level CHECK constraints (SQL boolean expressions) carried
    # forward snapshot-to-snapshot, Delta-style
    constraints: list[str] = None
    # free-form commit metadata (e.g. a streaming txn watermark) — recorded
    # atomically WITH the snapshot, so bookkeeping can never diverge
    # from the data it describes
    extra: dict = None


class VersionedTable:
    """A directory-rooted versioned parquet table.

    Layout::

        <root>/_manifests/v00000001.json   # one snapshot per commit
        <root>/data/<uuid>/part-*.parquet  # immutable data files
    """

    def __init__(self, root: str):
        self.root = Path(root)
        self.manifest_dir = self.root / "_manifests"

    # -- log resolution ---------------------------------------------------

    def versions(self) -> list[int]:
        if not self.manifest_dir.exists():
            return []
        return sorted(
            int(p.stem[1:]) for p in self.manifest_dir.glob("v*.json")
        )

    def current_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no snapshots under {self.root}")
        p = self.manifest_dir / f"v{version:08d}.json"
        doc = json.loads(p.read_text())
        return Snapshot(
            version=version,
            operation=doc["operation"],
            committed_at=doc["committed_at"],
            files=doc["files"],
            schema_json=doc.get("schema"),
            constraints=doc.get("constraints") or [],
            extra=doc.get("extra") or {},
        )

    # -- partition layout -------------------------------------------------

    def evolve_partition_spec(
        self,
        new_cols: tuple[str, ...] | list[str],
        committed_at: str = "1970-01-01T00:00:00Z",
    ) -> int:
        """Iceberg-style partition-spec EVOLUTION: a metadata-only commit
        that changes the partition columns for FUTURE writes. Existing
        files keep their old directory layout and are never rewritten —
        reads reconstruct each file generation under its own spec
        (``_read_files`` groups by per-entry partition tuples), and
        ``compact()`` naturally migrates old files to the live spec
        because compaction re-stages through the normal write path.

        Contrast with the Delta-style fixed-at-first-write rule the
        plain ``write`` enforces: evolution is the deliberate escape
        hatch, a distinct audited operation in the table history.
        ``read_partitions`` stays EXACT on evolved tables: files from
        older generations that do not record a filtered column cannot be
        manifest-pruned and are scanned with a residual row filter.

        ``new_cols`` must exist in the current table schema; an empty
        list switches future writes to unpartitioned layout.
        """
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"{self.root} has no snapshot; set the initial spec with "
                "partition_by on the first write"
            )
        snap = self.snapshot(cur)
        if snap.schema_json is None:
            raise ValueError(
                f"version {cur} records no schema; cannot validate the "
                "new partition columns"
            )
        fields = {
            f["name"]: f["type"]
            for f in json.loads(snap.schema_json)["fields"]
        }
        new_cols = list(new_cols)
        missing = [c for c in new_cols if c not in fields]
        if missing:
            raise ValueError(
                f"partition columns {missing} not in the table schema "
                f"{sorted(fields)}"
            )
        old = snap.extra.get("partition_spec")
        if old is not None and old["cols"] == new_cols:
            raise ValueError(
                f"table is already partitioned by {new_cols}"
            )
        history = list(snap.extra.get("partition_spec_history") or [])
        if old is not None:
            history.append(old)
        extra = {"partition_spec_history": history}
        if new_cols:
            extra["partition_spec"] = {
                "cols": new_cols,
                "types": {
                    c: (
                        fields[c]
                        if isinstance(fields[c], str)
                        else json.dumps(fields[c])
                    )
                    for c in new_cols
                },
            }
        else:
            # explicit empty spec: future writes are unpartitioned (the
            # carry-forward in _commit would otherwise resurrect the old
            # spec)
            extra["partition_spec"] = None
        return self._commit(
            snap.files,
            "evolve_spec",
            committed_at,
            schema_json=snap.schema_json,
            extra=extra,
            parent_version=cur,
        )

    def partition_spec(self, version: int | None = None) -> dict | None:
        """The table's partition spec, ``{"cols": [...], "types":
        {col: spark simpleString}}``, or None for an unpartitioned
        table. Fixed at first write (Delta-style) and carried forward by
        every commit."""
        if self.current_version() is None:
            return None
        return self.snapshot(version).extra.get("partition_spec")

    def _read_files(
        self, spark: SparkSession, entries: list[dict], lineage: bool = False
    ) -> DataFrame:
        """Scan manifest entries as one DataFrame of their in-file
        columns. No snapshot state is applied here (``_scan`` does that);
        the one direct caller is ``_validate_staged``, whose freshly
        staged files have none.

        ``partitionBy`` strips partition columns from the data files
        (they live in the directory name), so a partitioned read groups
        entries by file GENERATION (staging dir + partition keyset) and
        issues ONE Hive-style ``basePath`` read per generation — Spark
        reconstructs the partition columns from the ``col=value``
        directory names of exactly the listed files, so manifest-level
        pruning still works (only kept files are passed). Partition
        columns are read with an explicit ``string`` type: values
        surface in the directory-name string encoding the manifest
        itself records, and are cast to the types each entry records
        for its generation — one relation per generation, not one union
        branch per distinct partition tuple (34 relations in the
        versioned_evolve bench entry; at day/region-grained partitioning
        that shape is a driver-side planning blowup).

        ``lineage`` adds the ``_dv_file``/``_dv_pos`` row-lineage columns
        (tombstone anti-joins and mutation paths locate rows by them)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        def _one(
            paths: list[str],
            base_path: str | None = None,
            pcols: tuple[str, ...] = (),
        ) -> DataFrame:
            df = spark.read.option("mergeSchema", "true").parquet(*paths)
            if base_path is not None:
                # partition columns typed string: values surface as the
                # raw directory-name strings (the manifest's own
                # encoding) so the recorded-type cast below reproduces
                # them exactly ("01" must not become 1), whatever the
                # session's type-inference conf holds. The data columns
                # come from the read above, which names files, not a
                # basePath, so discovers no partitions.
                schema = T.StructType(
                    df.schema.fields
                    + [T.StructField(c, T.StringType()) for c in pcols]
                )
                df = (
                    spark.read.schema(schema)
                    .option("basePath", base_path)
                    .parquet(*paths)
                )
            if lineage:
                # _metadata must be projected off the scan relation
                # itself (it does not survive joins/aggregations)
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("_dv_file"),
                    F.col("_metadata.row_index").alias("_dv_pos"),
                )
            return df

        if not any("partition" in e for e in entries):
            return _one([str(self.root / e["path"]) for e in entries])

        # group by each entry's file GENERATION — staging dir plus its
        # OWN partition keyset/types (not the live spec's columns): after
        # partition-spec evolution a snapshot legitimately mixes file
        # generations laid out under different specs — each group's
        # basePath read reconstructs exactly the columns its directory
        # layout stripped, and unionByName null-fills across generations
        def _gen(e: dict) -> tuple:
            segs = e["path"].split("/")
            pre = len(segs) - 1
            for i, s in enumerate(segs[:-1]):
                if "=" in s:
                    pre = i
                    break
            return (
                "/".join(segs[:pre]),
                tuple(sorted(e.get("partition", {}))),
                tuple(sorted((e.get("partition_types") or {}).items())),
            )

        groups: dict[tuple, list[dict]] = {}
        for e in entries:
            groups.setdefault(_gen(e), []).append(e)
        out = None
        for key in sorted(groups):
            prefix, pcols, ptypes = key
            paths = [str(self.root / e["path"]) for e in groups[key]]
            part = (
                _one(paths, str(self.root / prefix), pcols)
                if pcols
                else _one(paths)
            )
            for c, t in ptypes:
                part = part.withColumn(c, F.col(c).cast(t))
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        return out

    def _scan(
        self,
        spark: SparkSession,
        snap: Snapshot,
        files: list[dict] | None = None,
        lineage: bool = False,
    ) -> DataFrame:
        """The one reader of a snapshot: ``files`` (default: all of
        ``snap``'s) read under ``snap``'s rules, so every reader returns
        the same rows in the same column order.

        - No files: a typed empty frame from the recorded schema (an
          overwrite-truncate or zero-row merge is a table state, not an
          error).
        - ``deletes``: merge-on-read tombstones (position deletes
          ``(file_path, row_index)``); live rows are the anti-join
          against them.
        - ``column_mapping`` (``{logical: [physical names, newest
          first]}``): each logical name COALESCES its physical aliases
          across the mixed-name file generations (mergeSchema surfaces
          every physical name, null where a file lacks it).
        - Columns are the recorded schema's, in its order, NULL where
          no scanned file carries one (a pruned read of files older
          than an appended column); columns it does not list (a
          narrower later append) follow.

        ``lineage`` keeps the ``_dv_file``/``_dv_pos`` columns (mutation
        paths locate rows by them)."""
        entries = snap.files if files is None else files
        if not entries:
            if snap.schema_json is None:
                raise FileNotFoundError(
                    f"version {snap.version} of {self.root} lists no files "
                    "and records no schema (pre-schema manifest)"
                )
            return spark.createDataFrame([], self._schema_fields(snap))
        from pyspark.sql import functions as F

        deletes = snap.extra.get("deletes")
        mapping = snap.extra.get("column_mapping")
        out = self._read_files(spark, entries, bool(deletes) or lineage)
        if deletes:
            tomb = spark.read.parquet(
                *[str(self.root / d["path"]) for d in deletes]
            )
            out = out.join(
                tomb,
                (out["_dv_file"] == tomb["file_path"])
                & (out["_dv_pos"] == tomb["row_index"]),
                "left_anti",
            )
            if not lineage:
                out = out.drop("_dv_file", "_dv_pos")
        if mapping:
            projected = []
            for logical, physicals in mapping.items():
                present = [p for p in physicals if p in out.columns]
                if not present:
                    continue  # column exists in no scanned file
                col = (
                    F.coalesce(*present)
                    if len(present) > 1
                    else F.col(present[0])
                )
                projected.append(col.alias(logical))
            out = out.select(
                *projected,
                *[c for c in ("_dv_file", "_dv_pos") if c in out.columns],
            )
        if snap.schema_json is not None:
            fields = self._schema_fields(snap).fields
            names = {f.name for f in fields}
            out = out.select(
                *[
                    F.col(f.name)
                    if f.name in out.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in fields
                ],
                *[c for c in out.columns if c not in names],
            )
        return out

    # -- commits ----------------------------------------------------------

    def _stage_files(
        self,
        df: DataFrame,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
    ) -> list[dict]:
        stage = self.root / "data" / uuid.uuid4().hex
        if partition_by:
            bad = set(partition_by) & (set(stats_cols) | set(bloom_cols))
            if bad:
                raise ValueError(
                    f"partition columns {sorted(bad)} need no stats/bloom "
                    "index — the manifest partition tuple IS their "
                    "file-level stat (use read_partitions)"
                )
            df.write.partitionBy(*partition_by).parquet(str(stage))
        else:
            df.write.parquet(str(stage))
        import pyarrow.parquet as pq

        # row counts from the footers (driver-side, no Spark job). Spark
        # writes a file even for an empty first partition; an empty file
        # is deleted, never committed (a stage of only empty files
        # commits none, and the recorded schema keeps the columns)
        rows = {
            p: pq.read_metadata(str(p)).num_rows
            for p in stage.rglob("*.parquet")
        }
        entries = []
        for p in sorted(rows):
            if not rows[p]:
                p.unlink()
                continue
            entries.append(
                {"path": str(p.relative_to(self.root)), "bytes": p.stat().st_size}
            )
        if partition_by:
            ptypes = {
                c: df.schema[c].dataType.simpleString()
                for c in partition_by
            }
            for e in entries:
                e["partition"] = _parse_partition_values(
                    e["path"], list(partition_by)
                )
                # per-entry types: after evolve_partition_spec the live
                # spec no longer describes files staged under older
                # specs, so each entry carries its own generation's types
                e["partition_types"] = ptypes
        if bloom_cols and entries:
            self._stage_blooms(
                df, stage, entries, bloom_cols, max(rows.values())
            )
        if stats_cols and entries:
            # per-file min/max for the skipping index: ONE distributed
            # aggregation over the staged files keyed by input_file_name —
            # no per-file driver loop; result is file-count-sized
            from pyspark.sql import functions as F

            spark = df.sparkSession
            aggs = []
            for c in stats_cols:
                aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
            rows = (
                spark.read.parquet(str(stage))
                .withColumn("_file", F.input_file_name())
                .groupBy("_file")
                .agg(*aggs)
                .collect()
            )
            by_suffix = {}
            for r in rows:
                stats = {
                    c: [
                        _json_safe(r[f"lo_{c}"], "lo"),
                        _json_safe(r[f"hi_{c}"], "hi"),
                    ]
                    for c in stats_cols
                }
                by_suffix[r["_file"]] = stats
            for e in entries:
                # every entry holds rows, so its decoded path matches a
                # census row (NULL stats there: an all-NULL column)
                e["stats"] = next(
                    v for f, v in by_suffix.items() if _is_file(f, e["path"])
                )
        return entries

    def _stage_blooms(
        self,
        df: DataFrame,
        stage: Path,
        entries: list[dict],
        bloom_cols: tuple[str, ...],
        max_rows: int,
    ) -> None:
        """Per-file bloom filter index (Delta bloom-filter-index analog):
        point-lookup file skipping for columns whose values are NOT
        clustered, where min/max stats cannot prune (every file spans the
        full range). Build is one distributed aggregation per column
        keyed by (file, word); the probe is driver-side Python over the
        manifest, so positions use the repo's PORTABLE md5 idiom (low 8
        hex digits), not JVM xxhash64 — both sides of the index must
        compute the same hash and only md5 is shared vocabulary.

        Sizing: one (m, k) per column for a 1% false-positive rate at
        the largest file's row count, ``max_rows`` (k capped at 4 — the
        probe here is driver-side, but the build is codegen and the same
        huge-method cliff applies). Words are stored
        sparse ({word_index: bits}) in the manifest; at 10.5 bits/key
        this is ~KBs per file per column — production would move them to
        a sidecar, the manifest shape is the point here.
        """
        from pyspark.sql import functions as F

        from ..operators.bloom import sizing

        spark = df.sparkSession
        scan = spark.read.parquet(str(stage)).withColumn(
            "_file", F.input_file_name()
        )
        m, k = sizing(max(max_rows, 64), 0.01)
        for col in bloom_cols:
            pos = F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.col(col).cast("string"),
                                            F.lit(f"|{i}"),
                                        )
                                    ),
                                    25,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("long"),
                            F.lit(m),
                        )
                        for i in range(k)
                    ]
                )
            ).alias("pos")
            rows = (
                scan.filter(F.col(col).isNotNull())
                .select("_file", pos)
                .select(
                    "_file",
                    (F.col("pos") / 64).cast("int").alias("word"),
                    F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias(
                        "bit"
                    ),
                )
                .groupBy("_file", "word")
                .agg(F.bit_or("bit").alias("bits"))
                .collect()
            )
            by_file: dict[str, dict] = {}
            for r in rows:
                by_file.setdefault(r["_file"], {})[str(r["word"])] = r["bits"]
            for e in entries:
                for f, words in by_file.items():
                    if _is_file(f, e["path"]):
                        e.setdefault("bloom", {})[col] = {
                            "m": m,
                            "k": k,
                            "words": words,
                        }
                        break

    def _commit(
        self,
        files: list[dict],
        operation: str,
        committed_at: str,
        *,
        parent_version: int | None,
        schema_json: str | None = None,
        constraints: list[str] | None = None,
        extra: dict | None = None,
    ) -> int:
        """Publish a snapshot with an atomic EXCLUSIVE link.
        ``parent_version`` is the snapshot the caller derived ``files``
        from (None = a new table): the new version is allocated as
        parent+1, so if ANY commit landed after the parent, the publish
        targets a taken version and raises ``ConcurrentWriteError``
        instead of silently building on — or dropping — a snapshot the
        caller never saw. ``constraints``: persisted table CHECKs (None =
        carry the parent's forward unchanged)."""
        self.manifest_dir.mkdir(parents=True, exist_ok=True)
        parent = (
            self.snapshot(parent_version)
            if parent_version is not None
            else None
        )
        if constraints is None:
            constraints = parent.constraints if parent else []
        # table-level properties ride the commit chain: every commit
        # carries them forward (like constraints), so maintenance commits
        # (compact, rewrite, merge) can never silently drop the partition
        # spec or the streaming transaction watermarks
        extra = dict(extra or {})
        if parent is not None:
            for key in ("partition_spec", "partition_spec_history", "txn",
                        "deletes", "column_mapping"):
                if key not in extra and parent.extra.get(key) is not None:
                    extra[key] = parent.extra[key]
        # an explicit empty delete list exists only to BLOCK the carry
        # (overwrite/compact/zorder); the published manifest omits it so
        # delete-free snapshots stay byte-identical to pre-MOR ones
        for k in ("deletes", "column_mapping"):
            if not extra.get(k):
                extra.pop(k, None)
        # allocate from the SAME snapshot read the carry-forward used: if
        # a concurrent commit lands after it, the exclusive link below
        # fails and the caller rebases — never a commit whose carried
        # state (constraints/spec/txn) predates its parent version
        version = (parent_version or 0) + 1
        doc = {
            "operation": operation,
            "committed_at": committed_at,
            "files": files,
            "schema": schema_json,
            "constraints": constraints,
            "extra": extra,
        }
        tmp = self.manifest_dir / f".tmp-{uuid.uuid4().hex}.json"
        tmp.write_text(json.dumps(doc, indent=1))
        # EXCLUSIVE publish: os.link fails with FileExistsError if the
        # version was taken by a concurrent writer (os.rename would
        # silently replace it — a lost update). This is the conflict
        # detection under the optimistic-concurrency loop in write();
        # readers still see either the old or the new manifest, never a
        # partial one (the content lands under the hidden tmp name first).
        target = self.manifest_dir / f"v{version:08d}.json"
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {version} of {self.root} was committed by a "
                "concurrent writer"
            )
        finally:
            tmp.unlink(missing_ok=True)
        return version

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        committed_at: str = "1970-01-01T00:00:00Z",
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        constraints: tuple[str, ...] = (),
        commit_extra: dict | None = None,
        partition_by: tuple[str, ...] = (),
    ) -> int:
        """Commit ``df`` as a new snapshot (``append`` keeps the previous
        snapshot's files; ``overwrite`` starts from the new files only;
        ``overwrite_partitions`` replaces exactly the partitions present
        in ``df`` and carries every other partition's files forward by
        reference — Spark dynamic partition overwrite / Delta
        ``replaceWhere`` semantics, with zero data movement outside the
        written partitions).

        ``partition_by`` fixes the table's Hive-layout partition columns
        at FIRST write (Delta-style: the spec is a table property, not a
        per-commit choice); later writes may repeat it (validated) or
        omit it (inherited). Partition values are recorded per file in
        the manifest, which is what ``read_partitions`` prunes on.
        ``committed_at`` is injectable for deterministic tests (the repo's
        no-wall-clock rule). ``stats_cols`` records per-file min/max in
        the manifest — the data-skipping index ``read_pruned`` consults
        (narrow ranges require a clustered layout: ``repartitionByRange``
        upstream or ``sources.zorder``). Returns the new version.

        ``constraints``: SQL boolean CHECK expressions added to the
        table's persisted constraint set (Delta ``ADD CONSTRAINT``
        analog). Every write validates its NEW rows against the combined
        set — on the STAGED files, after writing but before the manifest
        publishes, so (a) an expensive ``df`` is evaluated exactly once,
        and (b) a violating commit never becomes visible (staged files
        are deleted, ``ConstraintViolation`` raised: transactional
        enforcement). Existing rows are not re-validated (like Delta,
        adding a constraint asserts the future, and the add-time check is
        the caller's responsibility)."""
        if mode not in ("append", "overwrite", "overwrite_partitions"):
            raise ValueError(f"unsupported mode: {mode}")
        cur = self.current_version()
        spec = self.partition_spec()
        if spec is not None and partition_by and list(partition_by) != spec[
            "cols"
        ]:
            raise ValueError(
                f"table is partitioned by {spec['cols']}; cannot write "
                f"with partition_by={list(partition_by)} (the spec is "
                "fixed at first write — change it explicitly with "
                "evolve_partition_spec)"
            )
        if spec is None and partition_by:
            missing = [c for c in partition_by if c not in df.columns]
            if missing:
                raise ValueError(
                    f"partition_by columns {missing} not in the frame"
                )
            spec = {
                "cols": list(partition_by),
                "types": {
                    c: df.schema[c].dataType.simpleString()
                    for c in partition_by
                },
            }
        if mode == "overwrite_partitions" and spec is None:
            raise ValueError(
                "overwrite_partitions requires a partitioned table "
                "(pass partition_by on the first write)"
            )
        part_cols = tuple(spec["cols"]) if spec is not None else ()
        effective = list(
            dict.fromkeys(
                (self.snapshot(cur).constraints if cur is not None else [])
                + list(constraints)
            )
        )
        new_files = self._stage_files(
            df,
            stats_cols=stats_cols,
            bloom_cols=bloom_cols,
            partition_by=part_cols,
        )
        if effective and new_files:
            self._validate_staged(df.sparkSession, new_files, effective)
        # OPTIMISTIC CONCURRENCY (Delta's model, append-shaped subset):
        # the staged files are final; only the manifest contents depend
        # on the current snapshot. If a concurrent writer takes our
        # version, rebase — re-resolve the snapshot, recompute the
        # carried file list, re-check drift — and retry the publish.
        # Data is never rewritten on retry.
        requested = list(constraints)
        for _ in range(16):
            cur = self.current_version()
            latest = self.snapshot(cur) if cur is not None else None
            live_spec = (
                latest.extra.get("partition_spec") if latest else None
            )
            if live_spec is not None and (
                spec is None or spec["cols"] != live_spec["cols"]
            ):
                raise ConcurrentWriteError(
                    f"a concurrent writer established partitioning "
                    f"{live_spec['cols']} on {self.root}; this write "
                    f"staged files under "
                    f"{spec['cols'] if spec else 'no partitioning'}"
                )
            live_cons = latest.constraints if latest else []
            # constraints added concurrently must hold for OUR rows too
            drift = [c for c in live_cons if c not in effective]
            if drift and new_files:
                self._validate_staged(df.sparkSession, new_files, drift)
            effective = list(dict.fromkeys(live_cons + effective + requested))
            if mode == "append" and latest is not None:
                prior = latest.files
            elif mode == "overwrite_partitions" and latest is not None:
                written = {
                    tuple(e["partition"][c] for c in part_cols)
                    for e in new_files
                }
                prior = [
                    f
                    for f in latest.files
                    if tuple(
                        f.get("partition", {}).get(c) for c in part_cols
                    )
                    not in written
                ]
            else:
                prior = []
            extra = dict(commit_extra or {})
            if spec is not None:
                extra["partition_spec"] = spec
            if mode == "overwrite":
                # a truncating overwrite drops every old file; its
                # tombstones and name mappings must not be carried onto
                # the new snapshot
                extra.setdefault("deletes", [])
                extra.setdefault("column_mapping", {})
            live_map = (
                latest.extra.get("column_mapping") if latest else None
            ) or {}
            if live_map and mode != "overwrite":
                newmap = dict(live_map)
                for c in df.columns:  # schema evolution: identity-map
                    if c not in newmap:
                        try:
                            _check_name_free(live_map, c)
                        except ValueError:
                            self._drop_staged(new_files)
                            raise
                        newmap[c] = [c]
                extra["column_mapping"] = newmap
            try:
                return self._commit(
                    prior + new_files,
                    mode,
                    committed_at,
                    schema_json=df.schema.json(),
                    constraints=effective,
                    extra=extra,
                    parent_version=cur,
                )
            except ConcurrentWriteError:
                continue
        raise ConcurrentWriteError(
            f"gave up publishing to {self.root} after 16 rebases "
            "(pathological write contention)"
        )

    def _validate_staged(
        self,
        spark: SparkSession,
        new_files: list[dict],
        checks: list[str],
    ) -> None:
        """One pass over the given files counting violations per
        constraint; on any hit, raise with counts + up to 3 sample rows
        per failing check, after deleting the (staged, uncommitted)
        files. The read restores partition columns, so CHECKs may
        reference them."""
        from pyspark.sql import functions as F

        staged = self._read_files(spark, new_files)
        counts = staged.agg(
            *[
                F.sum(
                    F.when(~F.expr(c) | F.expr(c).isNull(), 1).otherwise(0)
                ).alias(f"_c{i}")
                for i, c in enumerate(checks)
            ]
        ).collect()[0]
        bad = {
            checks[i]: counts[f"_c{i}"]
            for i in range(len(checks))
            if counts[f"_c{i}"]
        }
        if not bad:
            return
        samples = {
            c: [
                r.asDict()
                for r in staged.filter(
                    ~F.expr(c) | F.expr(c).isNull()
                ).limit(3).collect()
            ]
            for c in bad
        }
        self._drop_staged(new_files)
        raise ConstraintViolation(
            f"write rejected, nothing committed: {bad} violating rows "
            f"(constraint -> count); samples: {samples}"
        )

    def _drop_staged(self, files: list[dict]) -> None:
        """Delete staged, never-committed files."""
        for f in files:
            p = self.root / f["path"]
            if p.exists():
                p.unlink()

    # -- reads ------------------------------------------------------------

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """The snapshot's rows. mergeSchema: appends may widen the schema
        (new columns); the union of all file footers in the snapshot is
        the table schema, with missing columns null-filled per file —
        Delta-style schema evolution on the read path (see ``_scan``)."""
        return self._scan(spark, self.snapshot(version))

    def changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
    ) -> DataFrame:
        """Change data feed: the row-level difference between snapshot
        ``v_from`` and snapshot ``v_to`` (default: current), as a frame of
        the table's columns plus ``change_type`` (``'insert'`` /
        ``'delete'``). An UPDATE surfaces as a delete of the old row and an
        insert of the new one. Multiset-exact: a row appearing twice more
        in ``v_to`` yields two ``insert`` rows.

        The Delta CDF analog, computed *from the log*: data files are
        immutable, so files listed by BOTH snapshots cancel exactly and are
        never read — only the symmetric difference of the two file lists is
        scanned. A pure append therefore reads just the appended files
        (zero old data); a compaction reads its rewritten files and nets to
        zero changes. The row diff itself is a +1/-1-weighted union +
        groupBy over all columns — one shuffle with map-side partial
        aggregation, null-safe by construction (no join on nullable keys).
        """
        from pyspark.sql import functions as F

        if v_to is None:
            v_to = self.current_version()
        old = self.snapshot(v_from)
        new = self.snapshot(v_to)
        # merge-on-read tombstones change a file's LIVE rows without
        # changing its path, so file-list cancellation is only sound when
        # both snapshots apply the SAME delete set; otherwise fall back
        # to full (delete-applied) reads of both versions — correct, at
        # full-scan cost, the price a MOR delete defers to its readers
        same_deletes = (old.extra.get("deletes") or []) == (
            new.extra.get("deletes") or []
        ) and (old.extra.get("column_mapping") or {}) == (
            new.extra.get("column_mapping") or {}
        )
        old_paths = (
            {f["path"] for f in old.files} if same_deletes else set()
        )
        new_paths = (
            {f["path"] for f in new.files} if same_deletes else set()
        )

        def _read(snap: Snapshot, other: set) -> DataFrame | None:
            only = [f for f in snap.files if f["path"] not in other]
            return self._scan(spark, snap, only) if only else None

        added = _read(new, old_paths)
        removed = _read(old, new_paths)
        probe = added if added is not None else removed
        if probe is not None:
            clash = {"_w", "_net", "_i"} & set(probe.columns)
            if clash:
                raise ValueError(
                    f"changes() reserves column names {sorted(clash)}; "
                    "rename the table columns"
                )
        if added is None and removed is None:
            base = self._scan(spark, new).limit(0)
            return base.withColumn("change_type", F.lit(""))
        parts = []
        if added is not None:
            parts.append(added.withColumn("_w", F.lit(1)))
        if removed is not None:
            parts.append(removed.withColumn("_w", F.lit(-1)))
        both = parts[0]
        for p in parts[1:]:
            both = both.unionByName(p, allowMissingColumns=True)
        data_cols = [c for c in both.columns if c != "_w"]
        net = both.groupBy(*data_cols).agg(F.sum("_w").alias("_net"))
        return (
            net.filter(F.col("_net") != 0)
            .withColumn(
                "change_type",
                F.when(F.col("_net") > 0, F.lit("insert")).otherwise(
                    F.lit("delete")
                ),
            )
            # multiset multiplicity: |net| copies of each changed row,
            # generated executor-side (no collect)
            .withColumn("_i", F.explode(F.sequence(F.lit(1), F.abs("_net"))))
            .select(*data_cols, "change_type")
        )

    def read_bloom_pruned(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Point lookup through the per-file bloom index: skip every file
        whose bloom provably excludes ``value`` (no false negatives — a
        file containing the value always has all k bits set), read the
        rest, apply the exact predicate. Files without a bloom for
        ``col`` are conservatively read. Complements ``read_pruned``:
        min/max skips on CLUSTERED columns, the bloom skips on any
        column, paying ~10.5 bits per distinct value in the manifest.
        """
        if value is None:
            raise ValueError("bloom lookup value must not be NULL")
        from pyspark.sql import functions as F

        snap = self.snapshot(version)
        names = self._physical_names(snap, col)
        keep = [
            f
            for f in snap.files
            if _bloom_may_contain(_index_of(f, "bloom", names), value)
        ]
        return self._read_kept(spark, snap, keep, F.col(col) == F.lit(value))

    def read_pruned(
        self,
        spark: SparkSession,
        col: str,
        lo,
        hi=None,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Manifest-level data skipping: read only the files whose
        recorded ``[min, max]`` for ``col`` intersects ``[lo, hi]``
        (``hi`` defaults to ``lo`` — point lookup), then apply the exact
        predicate on the surviving files. Files with no recorded stats
        are conservatively read (correctness first). Returns
        ``(frame, {"files_total", "files_read", "files_skipped"})`` — at
        100 TB this is the difference between a full scan and touching a
        handful of files, decided from KBs of manifest on the driver.
        """
        from pyspark.sql import functions as F

        hi = lo if hi is None else hi
        snap = self.snapshot(version)
        names = self._physical_names(snap, col)
        keep = [
            f
            for f in snap.files
            if _stats_overlap(_index_of(f, "stats", names), lo, hi)
        ]
        return self._read_kept(
            spark,
            snap,
            keep,
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)),
        )

    def read_partitions(
        self,
        spark: SparkSession,
        filters: dict,
        version: int | None = None,
    ) -> tuple[DataFrame, dict]:
        """Partition pruning from the manifest: read only the files whose
        recorded partition values satisfy ``filters`` (column -> wanted
        value or list of values; None matches the NULL partition). The
        decision is driver-side over KBs of manifest — no file listing,
        no footer reads — which at 100 TB is what turns a day-grained
        query into a touch-one-partition scan. Values compare in Spark's
        directory-name encoding (``str(value)``: ints plain, dates ISO).
        Returns ``(frame, {"files_total", "files_read",
        "files_skipped"})``."""
        snap = self.snapshot(version)
        spec = snap.extra.get("partition_spec")
        historic = {
            c for f in snap.files for c in f.get("partition", {})
        }
        if spec is None and not historic:
            raise ValueError(f"{self.root} is not a partitioned table")
        known = set(spec["cols"] if spec else []) | historic
        unknown = [c for c in filters if c not in known]
        if unknown:
            raise ValueError(
                f"{unknown} are not partition columns of any file "
                f"generation (live spec "
                f"{spec['cols'] if spec else []}, historic "
                f"{sorted(historic)})"
            )
        wanted = {
            c: {
                None if x is None else str(x)
                for x in (v if isinstance(v, (list, tuple, set)) else [v])
            }
            for c, v in filters.items()
        }
        def _match(f: dict) -> bool:
            part = f.get("partition", {})
            # a file generation that predates a filtered partition column
            # (spec evolution) records no value for it — it cannot be
            # manifest-pruned and must be scanned (the residual row
            # filter below keeps the result exact)
            return all(
                c not in part or part[c] in vs for c, vs in wanted.items()
            )

        keep = [f for f in snap.files if _match(f)]
        cond = None
        if any(c not in f.get("partition", {}) for f in keep for c in wanted):
            from pyspark.sql import functions as F

            for c, vs in wanted.items():
                non_null = [v for v in vs if v is not None]
                c_cond = F.col(c).cast("string").isin(non_null)
                if None in vs:
                    c_cond = c_cond | F.col(c).isNull()
                cond = c_cond if cond is None else cond & c_cond
        return self._read_kept(spark, snap, keep, cond)

    def _read_kept(
        self,
        spark: SparkSession,
        snap: Snapshot,
        keep: list[dict],
        cond=None,
    ) -> tuple[DataFrame, dict]:
        """The shared tail of the pruned readers, which only choose the
        files to ``keep``: scan them (a typed empty frame when none is
        kept), apply the exact row predicate ``cond`` and report
        ``{"files_total", "files_read", "files_skipped"}``."""
        report = {
            "files_total": len(snap.files),
            "files_read": len(keep),
            "files_skipped": len(snap.files) - len(keep),
        }
        if keep:
            df = self._scan(spark, snap, keep)
        else:
            df = self._scan(spark, snap).limit(0)
        return (df if cond is None else df.where(cond)), report

    # -- maintenance ------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        committed_at: str = "1970-01-01T00:00:00Z",
        sort_by: tuple[str, ...] = (),
    ) -> dict:
        """Transactional bin-packing: if the current snapshot is
        fragmented (more files than ``ceil(bytes/target)``), write
        compacted files and publish them as a new snapshot. Readers always
        see either the old or the new snapshot, never a mix; prior
        versions stay readable.

        The skipping index survives compaction: whatever columns the
        current snapshot carries stats for are re-recorded on the new
        files. ``sort_by`` range-clusters the rewrite on those columns
        (narrow post-compaction min/max = skipping stays EFFECTIVE, not
        just present; pair with ``sources.zorder.z_value`` for
        multi-column clustering). Default plain ``repartition`` matches
        the pre-round-5 behavior."""
        import math

        snap = self.snapshot()
        total = sum(f["bytes"] for f in snap.files)
        n_target = max(1, math.ceil(total / target_file_bytes))
        if len(snap.files) <= n_target:
            return {
                "compacted": False,
                "version": snap.version,
                "files_before": len(snap.files),
                "files_after": len(snap.files),
            }
        stats_cols = self._logical_stats_cols(snap)
        df = self.read(spark)
        spec = snap.extra.get("partition_spec")
        part_cols = tuple(spec["cols"]) if spec else ()
        if part_cols:
            # hash-shuffle on the partition columns: each partition value
            # lands in exactly one task, so the partitioned write emits
            # one file per partition value — ideal bin-packing for a
            # Hive-layout table; sort_by clusters within those files
            df = df.repartition(n_target, *part_cols)
            if sort_by:
                df = df.sortWithinPartitions(*sort_by)
        elif sort_by:
            df = df.repartitionByRange(n_target, *sort_by).sortWithinPartitions(
                *sort_by
            )
        else:
            df = df.repartition(n_target)
        files = self._stage_files(
            df, stats_cols=stats_cols, partition_by=part_cols
        )
        version = self._commit(
            files,
            "compact",
            committed_at,
            schema_json=df.schema.json(),
            extra={
                "deletes": [],
                "column_mapping": {},
            },
            parent_version=snap.version,
        )
        return {
            "compacted": True,
            "version": version,
            "files_before": len(snap.files),
            "files_after": len(files),
        }

    def optimize_zorder(
        self,
        spark: SparkSession,
        zx: str,
        zy: str,
        n_files: int = 8,
        bits: int = 12,
        committed_at: str = "1970-01-01T00:00:00Z",
    ) -> dict:
        """``OPTIMIZE ... ZORDER BY (zx, zy)`` analog (Delta's layout
        optimization; reference relies on the platform's OPTIMIZE at
        ``src/silver/silver_demographics.py:93``): rewrite the current
        snapshot clustered on the Morton curve of the two columns and
        record per-file min/max stats on BOTH, so ``read_pruned``
        predicates on EITHER column skip most files — a single-column
        sort only prunes its own column.

        Shape: one 1-row bounds collect (min/max of each column), then
        equi-width bucketize -> interleave (``sources.zorder``, plain
        shift/mask arithmetic in whole-stage codegen) -> range exchange
        on the z-value -> sorted write. No driver data movement beyond
        the bounds row. On a partitioned table the rewrite clusters
        WITHIN partitions (hash exchange on the partition columns, z-sort
        inside), keeping one-file-per-partition bin packing.

        State-dependent like ``compact``: a concurrent commit surfaces as
        ``ConcurrentWriteError`` — re-run on the new snapshot. Time
        travel to pre-optimize versions still works."""
        from pyspark.sql import functions as F

        from .zorder import bucketize, z_value

        snap = self.snapshot()
        spec = snap.extra.get("partition_spec")
        part_cols = tuple(spec["cols"]) if spec else ()
        if {zx, zy} & set(part_cols):
            raise ValueError(
                f"z-order columns {sorted({zx, zy} & set(part_cols))} are "
                "partition columns — the manifest partition tuple already "
                "prunes them (use read_partitions)"
            )
        df = self.read(spark)
        b = df.select(
            F.min(zx).alias("lox"),
            F.max(zx).alias("hix"),
            F.min(zy).alias("loy"),
            F.max(zy).alias("hiy"),
        ).collect()[0]
        if b["lox"] is None or b["loy"] is None:
            raise ValueError(
                f"cannot z-order on all-NULL column(s) {zx!r}/{zy!r}"
            )
        zcol = z_value(
            bucketize(F.col(zx), F.lit(b["lox"]), F.lit(b["hix"]), bits),
            bucketize(F.col(zy), F.lit(b["loy"]), F.lit(b["hiy"]), bits),
            bits,
        )
        staged = df.withColumn("_z", zcol)
        if part_cols:
            staged = staged.repartition(
                max(1, n_files), *part_cols
            ).sortWithinPartitions(*part_cols, "_z")
        else:
            staged = staged.repartitionByRange(
                max(1, n_files), "_z"
            ).sortWithinPartitions("_z")
        staged = staged.drop("_z")
        stats_cols = tuple(
            sorted(
                (set(self._logical_stats_cols(snap)) | {zx, zy})
                - set(part_cols)
            )
        )
        files = self._stage_files(
            staged, stats_cols=stats_cols, partition_by=part_cols
        )
        version = self._commit(
            files,
            "optimize_zorder",
            committed_at,
            schema_json=df.schema.json(),
            extra={
                "deletes": [],
                "column_mapping": {},
            },
            parent_version=snap.version,
        )
        return {
            "version": version,
            "files_before": len(snap.files),
            "files_after": len(files),
        }

    def restore(
        self, version: int, committed_at: str = "1970-01-01T00:00:00Z"
    ) -> dict:
        """``RESTORE TABLE ... TO VERSION AS OF`` analog: publish a NEW
        snapshot whose file list is the target version's, carried by
        reference — zero data movement, and the rolled-back states stay
        time-travel-readable (restore is itself just another commit).
        The target's schema, constraints, and partition spec come back
        with it; streaming transaction watermarks (``extra['txn']``) are
        deliberately NOT rolled back — rewinding them would make an
        exactly-once sink re-append batches it already committed.
        Fails if any of the target's files is missing."""
        cur = self.current_version()
        target = self.snapshot(version)
        missing = [
            f["path"]
            for f in (
                target.files + (target.extra.get("deletes") or [])
            )
            if not (self.root / f["path"]).exists()
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.root} to v{version}: "
                f"{len(missing)} data file(s) are missing "
                f"(first: {missing[0]!r})"
            )
        if version == cur:
            return {"restored": False, "version": cur}
        new_v = self._commit(
            target.files,
            "restore",
            committed_at,
            schema_json=target.schema_json,
            constraints=list(target.constraints),
            extra={
                "partition_spec": target.extra.get("partition_spec"),
                "deletes": target.extra.get("deletes") or [],
                "column_mapping": target.extra.get("column_mapping") or {},
            },
            parent_version=cur,
        )
        return {"restored": True, "version": new_v, "restored_to": version}

    def rewrite_where(
        self,
        spark: SparkSession,
        predicate: str,
        committed_at: str = "1970-01-01T00:00:00Z",
    ) -> dict:
        """Copy-on-write row-level mutation — the Delta DELETE/UPDATE
        execution model: only files that CONTAIN matching rows are
        rewritten; untouched files are carried into the new manifest by
        reference (no data movement, byte-identical). Readers see the
        pre- or post-mutation snapshot atomically; prior versions keep
        time-traveling to the unmodified data.

        Matching rows are deleted; a row whose predicate is NULL is
        kept, as ``mode="mor"`` keeps it. Returns
        ``{version, files_rewritten, files_kept, rows_matched}``; see
        ``_copy_on_write``.
        """
        return self._copy_on_write(
            spark,
            self.snapshot(),
            touched=lambda df: df.filter(predicate),
            survivors=lambda df: df.filter(
                f"NOT coalesce(({predicate}), false)"
            ),
            operation="rewrite",
            committed_at=committed_at,
        )

    def _copy_on_write(
        self,
        spark: SparkSession,
        snap: Snapshot,
        touched,
        survivors,
        operation: str,
        committed_at: str,
        added: DataFrame | None = None,
        extra: dict | None = None,
    ) -> dict:
        """The one copy-on-write rewrite of ``snap``. ``touched(frame)``
        keeps the rows whose files must be rewritten and
        ``survivors(frame)`` the rows a rewritten file keeps. Files
        holding no touched row are carried into the new manifest by
        reference; the others are re-staged with their survivors only.
        ``added`` rows (a merge's source) are staged into the same
        commit. Everything staged re-records the snapshot's stats columns
        (the skipping index survives row-level mutation exactly as it
        survives compaction) and is validated against its CHECK
        constraints (a violation unlinks the staged files, so the table
        is untouched). With no touched file and nothing ``added``,
        nothing is committed.

        File identity is the scan-anchored ``_dv_file`` lineage column
        (``input_file_name()`` returns '' once a tombstone join sits
        between scan and projection), and ONE grouped scan yields both
        the touched file set (bounded: file count, not row count) and
        ``rows_matched``. Returns ``{version, files_rewritten,
        files_kept, rows_matched}``, plus ``files_added`` with
        ``added``."""
        from pyspark.sql.types import StructType

        table = self._scan(spark, snap, lineage=True)
        per_file = (
            touched(table).groupBy("_dv_file").count().collect()
            if snap.files
            else []
        )
        matched = [r["_dv_file"] for r in per_file]
        kept, hit = [], []
        for f in snap.files:
            is_hit = any(_is_file(m, f["path"]) for m in matched)
            (hit if is_hit else kept).append(f)
        if not hit and added is None:
            return {
                "version": snap.version,
                "files_rewritten": 0,
                "files_kept": len(kept),
                "rows_matched": 0,
            }
        fields = [
            f
            for f in table.schema.fields
            if f.name not in ("_dv_file", "_dv_pos")
        ]
        spec = snap.extra.get("partition_spec")
        part_cols = tuple(spec["cols"]) if spec else ()
        stats_cols = set(self._logical_stats_cols(snap)) - set(part_cols)

        def _stage(df: DataFrame) -> list[dict]:
            return self._stage_files(
                df,
                stats_cols=tuple(c for c in df.columns if c in stats_cols),
                partition_by=part_cols,
            )

        # mergeSchema inside _scan, like read(): a plain multi-path read
        # resolves to ONE file's footer and can silently drop evolved
        # columns from the rewritten rows
        rewritten = (
            _stage(survivors(self._scan(spark, snap, hit))) if hit else []
        )
        new_files = _stage(added) if added is not None else []
        if snap.constraints and rewritten + new_files:
            self._validate_staged(
                spark, rewritten + new_files, snap.constraints
            )
        names = {f.name for f in fields}
        if added is not None:
            fields += [f for f in added.schema.fields if f.name not in names]
        version = self._commit(
            kept + rewritten + new_files,
            operation,
            committed_at,
            parent_version=snap.version,
            schema_json=StructType(fields).json(),
            extra=extra,
        )
        out = {
            "version": version,
            "files_rewritten": len(hit),
            "files_kept": len(kept),
            "rows_matched": sum(r["count"] for r in per_file),
        }
        if added is not None:
            out["files_added"] = len(new_files)
        return out

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        committed_at: str = "1970-01-01T00:00:00Z",
        mode: str = "cow",
    ) -> dict:
        """Row-level DELETE.

        - ``mode="cow"`` (copy-on-write, see ``rewrite_where``): files
          containing matches are rewritten NOW; reads stay plain scans.
        - ``mode="mor"`` (merge-on-read — Iceberg position deletes /
          Delta deletion vectors analog): the matching rows' positions
          ``(file_path, row_index)`` are written as a TOMBSTONE file and
          the commit re-publishes the data file list unchanged — commit
          cost is proportional to the matched rows, not to the size of
          the files containing them. Every reader (read / time travel /
          pruned reads / CDF / mutations) anti-joins the tombstones at
          scan time; ``compact()`` (or any rewrite touching the file)
          materializes them away. The classic trade: MOR wins on
          delete-heavy write paths, CoW wins on read-heavy tables.
        """
        if mode == "cow":
            return self.rewrite_where(spark, predicate, committed_at=committed_at)
        if mode != "mor":
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        return self._mor_delete(spark, predicate, committed_at)

    def _stage_deletes(self, df: DataFrame) -> list[dict]:
        """Write a tombstone frame ``(file_path, row_index)`` under
        ``deletes/<uuid>/`` and return its manifest entries."""
        stage = f"deletes/{uuid.uuid4().hex}"
        outdir = self.root / stage
        df.coalesce(1).write.parquet(str(outdir))
        return [
            {
                "path": str(p.relative_to(self.root)),
                "bytes": p.stat().st_size,
            }
            for p in sorted(outdir.rglob("*.parquet"))
        ]

    def _mor_delete(
        self,
        spark: SparkSession,
        predicate: str,
        committed_at: str,
    ) -> dict:
        from pyspark.sql import functions as F

        snap = self.snapshot()
        if not snap.files:
            return {
                "version": snap.version,
                "rows_deleted": 0,
                "delete_files": 0,
                "files_rewritten": 0,
            }
        prior = snap.extra.get("deletes") or []
        # existing tombstones are applied BEFORE matching, so deleting an
        # already-deleted row never duplicates its tombstone (idempotent
        # re-delete = empty match = no commit)
        df = self._scan(spark, snap, lineage=True)
        matched = df.filter(predicate).select(
            F.col("_dv_file").alias("file_path"),
            F.col("_dv_pos").alias("row_index"),
        )
        entries = self._stage_deletes(matched)
        rows = (
            spark.read.parquet(
                *[str(self.root / e["path"]) for e in entries]
            ).count()
            if entries
            else 0
        )
        if rows == 0:
            self._drop_staged(entries)  # the staged empty tombstone
            return {
                "version": snap.version,
                "rows_deleted": 0,
                "delete_files": 0,
                "files_rewritten": 0,
            }
        version = self._commit(
            snap.files,
            "mor_delete",
            committed_at,
            schema_json=snap.schema_json,
            extra={"deletes": prior + entries},
            parent_version=snap.version,
        )
        return {
            "version": version,
            "rows_deleted": rows,
            "delete_files": len(entries),
            "files_rewritten": 0,
        }

    def _physical_names(self, snap: Snapshot, col: str) -> list[str]:
        """All physical (in-file) names a logical column may appear under
        across file generations — ``[col]`` when no mapping exists."""
        m = snap.extra.get("column_mapping") or {}
        return m.get(col, [col])

    def _logical_stats_cols(self, snap: Snapshot) -> tuple[str, ...]:
        """The LOGICAL names of every column any file records stats for
        (rewrites re-record stats on logical-named survivor frames, so
        physical stat keys must be translated through the mapping)."""
        phys = {c for f in snap.files for c in f.get("stats", {})}
        m = snap.extra.get("column_mapping") or {}
        rev = {p: logical for logical, ps in m.items() for p in ps}
        return tuple(sorted({rev.get(c, c) for c in phys}))

    def _schema_fields(self, snap: Snapshot):
        from pyspark.sql.types import StructType

        if snap.schema_json is None:
            raise ValueError(
                f"{self.root} v{snap.version} records no schema; column "
                "evolution needs a schema-bearing snapshot"
            )
        return StructType.fromJson(json.loads(snap.schema_json))

    def _check_constraint_refs(self, snap: Snapshot, col: str, op: str):
        import re as _re

        hits = [
            c
            for c in (snap.constraints or [])
            if _re.search(rf"\b{_re.escape(col)}\b", c)
        ]
        if hits:
            raise ValueError(
                f"cannot {op} column {col!r}: referenced by CHECK "
                f"constraint(s) {hits}; drop them first"
            )

    def rename_column(
        self,
        old: str,
        new: str,
        committed_at: str = "1970-01-01T00:00:00Z",
    ) -> int:
        """``ALTER TABLE ... RENAME COLUMN`` as a METADATA-ONLY commit
        (Iceberg column-mapping analog): no data file is touched — the
        manifest's schema renames the field and the column mapping
        records that the logical name resolves to the old physical
        name(s) in existing files, while files written after the rename
        carry the new name physically. Reads coalesce the aliases; stats
        and bloom probes translate through the mapping; compaction
        materializes everything to the logical name and resets the
        mapping. Partition columns cannot be renamed (their name is the
        directory layout), and columns referenced by CHECK constraints
        must have those constraints dropped first."""
        snap = self.snapshot()
        schema = self._schema_fields(snap)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} in {names}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        spec = snap.extra.get("partition_spec")
        if spec and old in spec["cols"]:
            raise ValueError(
                f"{old!r} is a partition column; partition columns "
                "cannot be renamed (Hive layout encodes the name)"
            )
        self._check_constraint_refs(snap, old, "rename")
        mapping = dict(snap.extra.get("column_mapping") or {})
        if not mapping:
            mapping = {n: [n] for n in names}
        _check_name_free(mapping, new)
        physicals = mapping.pop(old)
        out = {}
        for n in names:  # preserve schema order in the mapping
            if n == old:
                out[new] = [new] + physicals
            else:
                out[n] = mapping[n]
        from pyspark.sql.types import StructField, StructType

        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        return self._commit(
            snap.files,
            "rename_column",
            committed_at,
            schema_json=new_schema.json(),
            extra={"column_mapping": out},
            parent_version=snap.version,
        )

    def merge_rows(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        committed_at: str = "1970-01-01T00:00:00Z",
        _extra_match_keys: DataFrame | None = None,
        commit_extra: dict | None = None,
    ) -> dict:
        """Keyed MERGE (upsert) into the table — the Delta ``MERGE INTO``
        execution model for tables too big to rewrite per sync, run
        through ``_copy_on_write``:

        1. find the data files CONTAINING rows whose key appears in
           ``source`` (one distributed semi-join over the scan's file
           lineage; driver state is file names only);
        2. rewrite ONLY those files with the matched keys' old rows
           removed (LEFT ANTI on the keys);
        3. stage all ``source`` rows as new files;
        4. publish untouched + rewritten + new files as ONE snapshot.

        Cost tracks the matched keys' file footprint, not table size —
        and clustering (``sources.zorder`` / ``repartitionByRange``)
        shrinks that footprint exactly as it does for ``rewrite_where``.
        Rows in untouched files are never read or rewritten.

        The ``source`` row becomes the row for its key; multiset caveat:
        ALL existing rows with a matched key are removed, then
        ``source``'s rows (as given, duplicates included) are inserted.
        Keys match NULL-safely: a plain equi-join never matches NULL
        keys, so replaying a delete/update of a NULL-keyed row would
        silently leave the stale row in place (operators.scd2 treats
        NULL business keys as first-class the same way). Returns
        ``{version, files_rewritten, files_kept, rows_matched,
        files_added}``.
        """
        from functools import reduce

        from pyspark.sql import functions as F

        keys = source.select(*key_cols)
        if _extra_match_keys is not None:
            # apply_cdc: delete-only keys must also be cleared
            keys = keys.union(_extra_match_keys.select(*key_cols))
        kalias = keys.distinct().select(
            *[F.col(c).alias(f"_mk_{c}") for c in key_cols]
        )

        def _join(df: DataFrame, how: str) -> DataFrame:
            cond = reduce(
                lambda a, b: a & b,
                [df[c].eqNullSafe(kalias[f"_mk_{c}"]) for c in key_cols],
            )
            return df.join(kalias, on=cond, how=how)

        return self._copy_on_write(
            spark,
            self.snapshot(),
            touched=lambda df: _join(df, "left_semi"),
            survivors=lambda df: _join(df, "left_anti"),
            operation="merge",
            committed_at=committed_at,
            added=source,
            extra=commit_extra,
        )

    def apply_cdc(
        self,
        spark: SparkSession,
        feed: DataFrame,
        key_cols: list[str],
        seq_col: str,
        op_col: str = "op",
        committed_at: str = "1970-01-01T00:00:00Z",
        commit_extra: dict | None = None,
    ) -> dict:
        """APPLY CHANGES with SEQUENCING (the DLT ``APPLY CHANGES INTO
        ... SEQUENCE BY`` semantics): replay an OUT-OF-ORDER,
        at-least-once CDC feed — rows carry a business key, a monotone
        per-key sequence (CDC log offset / source timestamp), and an
        op ('U' upsert / 'D' delete).

        Ordering rules, all deterministic:
        1. within the feed, the highest-sequence row per key wins (ties
           break on a whole-row hash — a function of data, not arrival
           order);
        2. against the TABLE, a change applies only if its sequence is
           STRICTLY greater than the stored row's persisted ``_seq`` —
           a late-arriving stale update can never overwrite fresher
           state (the at-least-once replay guarantee);
        3. winners apply as one keyed MERGE (``merge_rows``): delete
           winners clear their key, upsert winners replace it and
           persist their sequence in ``_seq``.

        Scale shape: the feed reduction is one window over feed keys;
        the stale guard reads ONLY (key, _seq) from the table (column-
        pruned scan) and joins feed-key-sized frames; the merge rewrites
        only files containing touched keys. Returns merge_rows' stats.
        """
        if seq_col == "_seq" or op_col == "_seq":
            raise ValueError("_seq is reserved for the persisted sequence")
        from pyspark.sql import Window as W

        from pyspark.sql import functions as F

        win = W.partitionBy(*key_cols).orderBy(
            F.col(seq_col).desc(),
            F.md5(F.to_json(F.struct(*feed.columns))).desc(),
        )
        latest = (
            feed.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        cur = self.current_version()
        if cur is not None and "_seq" in [
            f["name"]
            for f in json.loads(
                self.snapshot(cur).schema_json or '{"fields": []}'
            )["fields"]
        ]:
            stored = self.read(spark, cur).select(
                *key_cols, F.col("_seq").alias("_stored_seq")
            )
            latest = latest.join(stored, key_cols, "left").where(
                F.col("_stored_seq").isNull()
                | (F.col(seq_col) > F.col("_stored_seq"))
            ).drop("_stored_seq")
        ups = (
            latest.where(F.col(op_col) != "D")
            .drop(op_col)
            .withColumnRenamed(seq_col, "_seq")
        )
        touched = latest.select(*key_cols)
        return self.merge_rows(
            spark,
            ups,
            key_cols,
            committed_at=committed_at,
            _extra_match_keys=touched,
            commit_extra=commit_extra,
        )
