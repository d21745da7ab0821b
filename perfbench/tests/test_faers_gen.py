"""The FAERS generator is a pure function of its seed, and quarter 2 carries
the changes the medallion workload is meant to exercise."""

from __future__ import annotations

from pathlib import Path

from perfbench import faers_gen
from faers_datalakehouse_spark.plans.medallion import BRONZE_COLUMNS

CASES = 300


def _bytes(sources: dict[str, dict[str, str]]) -> dict[str, bytes]:
    return {f"{q}/{t}": Path(p).read_bytes() for q, ts in sources.items() for t, p in ts.items()}


def _drug_attrs(path: str) -> dict[str, tuple[str, str]]:
    with open(path) as fh:
        next(fh)
        return {f[4]: (f[3], f[5]) for f in (line.rstrip("\n").split("$") for line in fh)}


def test_same_seed_gives_identical_files(tmp_path):
    a = faers_gen.generate(tmp_path / "a", 7, CASES)
    b = faers_gen.generate(tmp_path / "b", 7, CASES)
    assert _bytes(a) == _bytes(b)


def test_different_seed_gives_different_files(tmp_path):
    a = _bytes(faers_gen.generate(tmp_path / "a", 7, CASES))
    b = _bytes(faers_gen.generate(tmp_path / "b", 8, CASES))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_files_follow_bronze_columns(tmp_path):
    sources = faers_gen.generate(tmp_path, 7, CASES)
    for q in ("q1", "q2"):
        for name, cols in BRONZE_COLUMNS.items():
            lines = Path(sources[q][name]).read_text().splitlines()
            assert lines[0] == "$".join(cols)
            assert all(len(line.split("$")) == len(cols) for line in lines[1:])


def test_quarter_two_changes_and_adds_drugs(tmp_path):
    sources = faers_gen.generate(tmp_path, 7, CASES)
    q1 = _drug_attrs(sources["q1"]["drug_details"])
    q2 = _drug_attrs(sources["q2"]["drug_details"])
    changed = [d for d in q2 if d in q1 and q1[d] != q2[d]]
    new = [d for d in q2 if d not in q1]
    assert changed, "no SCD2 version change in quarter 2"
    assert new, "no new drug in quarter 2"
    total, current = faers_gen.expected_dim_drug(sources)
    assert current == len(set(q1) | set(q2))
    assert total == current + len(changed)


def test_case_dims_count_distinct_keys(tmp_path):
    sources = faers_gen.generate(tmp_path, 7, CASES)
    dims = faers_gen.expected_case_dims(sources)
    assert dims["dim_patient"] == dims["dim_outcome"] == dims["dim_report"] == 2 * CASES
    reactions = sum(len(Path(q["reactions"]).read_text().splitlines()) - 1 for q in sources.values())
    assert 2 * CASES <= dims["dim_reaction"] < reactions  # a case can repeat a reaction term


def test_malformed_values_present(tmp_path):
    sources = faers_gen.generate(tmp_path, 7, 2000)
    rows = [line.split("$") for line in Path(sources["q1"]["demographics"]).read_text().splitlines()[1:]]
    assert any(r[2] == "unknown" for r in rows)  # unparseable event date
    assert any(len(r[2]) == 6 for r in rows)  # yyyyMM partial date
    assert any(r[5] == "n/a" for r in rows)  # non-numeric age
    assert any(r[8] == "" for r in rows)  # missing weight


def test_every_later_quarter_changes_and_adds_drugs(tmp_path):
    sources = faers_gen.generate(tmp_path, 7, CASES, n_quarters=4)
    assert list(sources) == ["q1", "q2", "q3", "q4"]
    current = _drug_attrs(sources["q1"]["drug_details"])
    versions = len(current)
    for tag in ("q2", "q3", "q4"):
        batch = _drug_attrs(sources[tag]["drug_details"])
        changed = [d for d in batch if d in current and current[d] != batch[d]]
        assert changed, f"no SCD2 version change in {tag}"
        assert any(d not in current for d in batch), f"no new drug in {tag}"
        versions += len(changed) + sum(d not in current for d in batch)
        current.update(batch)
    assert faers_gen.expected_dim_drug(sources) == (versions, len(current))
