"""Per-push sampled oracle gate (VERDICT r8 "Next round" #6).

With a 50-slot driver window over a ~190-entry map, a silently-rotted
entry can hide for ~4 rounds. This test runs the STRICT driver-sim
compare (the same canonicalizer the driver and tools/oracle_sweep.py
use) on a 40-entry sample at sf0.001 on every pytest run, making silent
rot a coin-flip per run instead of invisible — while keeping the suite
fast (the full 190-entry sweep takes ~6.5 min and stays a tool).

The sample is seeded by the current git HEAD, so it is deterministic
for a given commit (reproducible failures) but rotates as commits land.
"""

from __future__ import annotations

import random
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import __spark_entry__ as entrymod

# 40/263 ≈ 15% per-entry detection per run (VERDICT r10 item 8: hold
# the ratio ≥14% as the map grows — bumped from 35 when round 11 added
# 10 entries)
SAMPLE_SIZE = 40

# Entries whose harness needs sf0.01-tuned inputs or a managed-table /
# streaming scratch area that the session-scoped test warehouse already
# covers elsewhere; keep this list short and justified.
EXCLUDED: set[str] = set()


def _head_seed() -> int:
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=Path(__file__).resolve().parent.parent,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
        return int(head[:12] or "0", 16)
    except Exception:  # noqa: BLE001
        return 0


def test_sampled_strict_oracle_gate(spark, sf_dir):
    from verify_driver_sim import run_one

    from faers_datalakehouse_spark.sources.tables import TPCH_TABLES

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sorted(n for n in qs if n not in EXCLUDED)
    rng = random.Random(_head_seed())
    sample = rng.sample(names, min(SAMPLE_SIZE, len(names)))

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = {}
    for name in sample:
        try:
            info = run_one(
                spark, con, name, qs[name], oracles.get(name), sf_dir
            )
        except Exception as e:  # noqa: BLE001
            info = {"status": "ERROR", "error": str(e)[:300]}
        if info.get("status") not in ("OK", "rows-only"):
            failures[name] = info
    assert not failures, f"sampled oracle gate red: {failures}"


def test_sample_rotates_with_seed():
    """Different seeds draw different samples (the rotation property the
    gate depends on); same seed reproduces the same sample."""
    names = sorted(entrymod.queries())
    s1 = random.Random(1).sample(names, SAMPLE_SIZE)
    s1b = random.Random(1).sample(names, SAMPLE_SIZE)
    s2 = random.Random(2).sample(names, SAMPLE_SIZE)
    assert s1 == s1b
    assert s1 != s2
