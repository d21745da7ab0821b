"""Source-hygiene grep pins.

The events table's ts column has drifted encodings across testdata
generations (TIMESTAMP(NANOS) vs micros); ``sources.tables.read_events``
is the ONE place that normalizes it (and restores the session conf it
touches). Every consumer must route through it — r9 ADVICE item 4 fixed
stattests/subsample, r10 VERDICT flagged the last straggler in
plans/showcase.py. This pin keeps the class closed: a new raw
``read.parquet(.../events.parquet)`` site fails here, not three rounds
later when the encoding drifts again. The same holds for every testdata
table: ``sources.tables.read_table`` is the one read path. Runtime
session-conf writes are pinned to ``session.py`` and two named helpers,
and Arrow/pandas kernel calls to ``functions/kernels.py`` plus a list of
older modules that may only shrink.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "faers_datalakehouse_spark"
REPO = Path(__file__).resolve().parents[1]

# Batch-read call on the raw file. shutil.copy staging for streaming
# landing zones is fine (readStream applies an explicit schema), as are
# docstrings/comments mentioning the filename.
_RAW_READ = re.compile(r"read\.parquet\([^)]*events\.parquet")


def test_no_raw_events_parquet_reads_outside_tables():
    offenders = []
    files = list(PKG.rglob("*.py")) + [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
    ]
    for path in files:
        if path.name == "tables.py" and path.parent.name == "sources":
            continue
        for lineno, line in enumerate(
            path.read_text().splitlines(), start=1
        ):
            if _RAW_READ.search(line):
                offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, (
        "raw events.parquet batch reads must go through "
        "sources.tables.read_events:\n" + "\n".join(offenders)
    )


# Batch read of a testdata table by path. ``sources.tables.read_table`` is
# the one read path: it remembers each file's schema, so a raw read
# elsewhere re-runs a schema-inference job on every plan build.
_RAW_TABLE_READ = re.compile(r"read\.parquet\(\s*f[\"']\{sf_dir\}/")


def test_no_raw_testdata_reads_outside_sources():
    offenders = []
    for path in list(PKG.rglob("*.py")) + [REPO / "__spark_entry__.py"]:
        if path.parent.name == "sources":
            continue
        text = path.read_text()
        for m in _RAW_TABLE_READ.finditer(text):
            lineno = text.count("\n", 0, m.start()) + 1
            offenders.append(f"{path}:{lineno}: {text.splitlines()[lineno - 1].strip()}")
    assert not offenders, (
        "testdata tables must be read through "
        "sources.tables.read_table:\n" + "\n".join(offenders)
    )


def test_stage_events_handles_file_and_directory_sources(tmp_path):
    """The driver testdata lands events.parquet as a single FILE; the
    scale-curve probe corpora are Spark-written DIRECTORIES of part
    files. Both must stage into a streaming landing zone (the r11
    streaming-probe fix)."""
    from faers_datalakehouse_spark.plans.showcase import stage_events

    # file form
    sf1 = tmp_path / "sf_file"
    sf1.mkdir()
    (sf1 / "events.parquet").write_bytes(b"PAR1")
    land1 = tmp_path / "land1"
    land1.mkdir()
    stage_events(str(sf1), str(land1 / "part-0.parquet"))
    assert (land1 / "part-0.parquet").read_bytes() == b"PAR1"

    # directory form
    sf2 = tmp_path / "sf_dir"
    (sf2 / "events.parquet").mkdir(parents=True)
    for i in range(3):
        (sf2 / "events.parquet" / f"part-{i:05d}.parquet").write_bytes(
            bytes([i])
        )
    land2 = tmp_path / "land2"
    land2.mkdir()
    stage_events(str(sf2), str(land2 / "part-0.parquet"))
    staged = sorted(p.name for p in land2.iterdir())
    assert staged == [
        "part-0-0.parquet",
        "part-0-1.parquet",
        "part-0-2.parquet",
    ]


# Runtime session-conf writes. session.py sets conf once, at session
# build; a read or write carries its own semantics (writer option, static
# partition spec, explicit read schema). The two exceptions are the
# scoped TIMESTAMP(NANOS) inference window and the one-way enable Spark
# requires before it accepts a pushFilters Python data source.
_CONF_WRITE = re.compile(r"\.conf\.(set|unset)\(")
_CONF_WRITE_ALLOWED = {
    ("session.py", None),
    ("sources/tables.py", "nanos_as_long"),
    ("sources/pyds.py", "register"),
}


def test_runtime_conf_writes_only_in_allowed_functions():
    offenders = []
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        top = None  # enclosing top-level def/class
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            m = re.match(r"(?:def|class) (\w+)", line)
            if m:
                top = m.group(1)
            if _CONF_WRITE.search(line) and not (
                {(rel, None), (rel, top)} & _CONF_WRITE_ALLOWED
            ):
                offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, (
        "runtime spark.conf.set/unset belongs in session.py; give the "
        "read or write its own option instead:\n" + "\n".join(offenders)
    )


# Arrow/pandas kernel calls. ``functions/kernels.py`` is the one Arrow
# boundary; the modules listed here call the APIs directly and predate
# it. The list may only shrink: a module that moves onto the boundary
# must leave it (the stale-entry check below), and none may join it.
_KERNEL_CALL = re.compile(r"\.(mapInPandas|applyInPandas|mapInArrow|applyInArrow)\(")
_KERNEL_CALL_ALLOWED = {
    "operators/dedup.py",
    "operators/heavyhitters.py",
    "operators/kmv.py",
    "operators/bpe.py",
    "operators/multimodal.py",
    "operators/mmr.py",
    "operators/cogroup.py",
}


def test_arrow_kernel_calls_only_through_kernels_module():
    offenders, callers = [], set()
    for path in list(PKG.rglob("*.py")) + [REPO / "__spark_entry__.py"]:
        rel = path.relative_to(PKG).as_posix() if PKG in path.parents else path.name
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            if _KERNEL_CALL.search(line):
                callers.add(rel)
                if rel not in _KERNEL_CALL_ALLOWED | {"functions/kernels.py"}:
                    offenders.append(f"{path}:{lineno}: {line.strip()}")
    assert not offenders, (
        "Arrow kernels go through functions.kernels (map_batches, "
        "partition_sum):\n" + "\n".join(offenders)
    )
    stale = _KERNEL_CALL_ALLOWED - callers
    assert not stale, f"no longer call the Arrow APIs; drop from the list: {sorted(stale)}"
