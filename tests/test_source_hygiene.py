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
older modules that may only shrink. Every package definition must be
reached from an entry point, the bench, the benchmark or a tool.
"""

from __future__ import annotations

import ast
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


# Reachability. A definition (top-level function or class, or method) is
# reached when code in a root or in a reached definition references it.
# Only code counts: a Name, an Attribute or an imported name. Comments,
# docstrings and strings do not, and a method is reached only as an
# attribute (``x.m``), never by a local variable of the same name. Roots:
# the driver contract, bench.py, the benchmark and the tools, the
# package's __main__ module, and each module's code outside its
# definitions. An __init__ re-export is not a use, so __init__ modules
# are not roots. Dunder methods and the callbacks pyspark invokes on
# DataSource/reader/writer/UDTF classes are reached by construction.
_ROOT_SCRIPTS = ("__spark_entry__.py", "bench.py", "perfbench/*.py", "tools/*.py")
_PYSPARK_CALLBACKS = {
    "sources/pyds.py": {
        "name", "schema", "reader", "writer", "streamReader", "pushFilters",
        "partitions", "read", "write", "commit", "abort", "initialOffset",
        "latestOffset",
    },
    "functions/udtf_ops.py": {"eval", "analyze", "terminate"},
}
# Unreached definitions that tests of reached code depend on. The list may
# only shrink: an entry that is reached or gone fails the test.
_UNREACHED_ALLOWED = {
    # reference estimators the sketch tests bound the HLL registers with
    "operators/sketches.py::hll_estimate",
    "operators/sketches.py::hll_estimate_grouped",
    # container fixture for the decode_media tests
    "operators/multimodal.py::make_fake_payload",
    # drives the streaming operators in tests/test_streaming.py
    "streaming/events.py::run_to_completion",
}
_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEF = (*_FUNC, ast.ClassDef)


def _refs(nodes) -> tuple[set[str], set[str]]:
    """The (names, attributes) that the code in ``nodes`` references."""
    names, attrs = set(), set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                attrs.add(n.attr)
            elif isinstance(n, ast.alias):
                names.update(n.name.split("."))
    return names, attrs


def _unreached_definitions() -> set[str]:
    roots = [
        ast.parse(path.read_text())
        for pattern in _ROOT_SCRIPTS
        for path in sorted(REPO.glob(pattern))
    ]
    defs = []  # (id, name, is_method, nodes whose code it owns)
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        if path.name == "__main__.py":
            roots.append(tree)
            continue
        for node in tree.body:
            if not isinstance(node, _DEF):
                roots.append(node)
            elif not isinstance(node, ast.ClassDef):
                defs.append((f"{rel}::{node.name}", node.name, False, [node]))
            else:
                own = [*node.decorator_list, *node.bases, *node.keywords]
                for m in node.body:
                    if not isinstance(m, _FUNC):
                        own.append(m)
                    elif m.name.startswith("__") and m.name.endswith("__") or (
                        m.name in _PYSPARK_CALLBACKS.get(rel, ())
                    ):
                        roots.append(m)
                    else:
                        defs.append(
                            (f"{rel}::{node.name}.{m.name}", m.name, True, [m])
                        )
                defs.append((f"{rel}::{node.name}", node.name, False, own))

    names, attrs = _refs(roots)
    unreached = defs
    while True:
        hit = [d for d in unreached if d[1] in attrs or not d[2] and d[1] in names]
        if not hit:
            return {d[0] for d in unreached}
        unreached = [d for d in unreached if d not in hit]
        more_names, more_attrs = _refs(n for d in hit for n in d[3])
        names |= more_names
        attrs |= more_attrs


def test_every_definition_is_reached_from_a_root():
    unreached = _unreached_definitions()
    dead = sorted(unreached - _UNREACHED_ALLOWED)
    assert not dead, (
        "no entry point, bench, benchmark or tool reaches these "
        "definitions; call them from a root or delete them:\n"
        + "\n".join(dead)
    )
    stale = sorted(_UNREACHED_ALLOWED - unreached)
    assert not stale, f"reached or gone; drop from the allowlist: {stale}"
