"""Seeded generator of FAERS-shaped ``$``-delimited CSV quarters.

Writes consecutive quarters (two by default) of the seven FAERS extracts
named in ``plans.medallion.BRONZE_COLUMNS``. Quarter 1 is the initial load;
every later quarter is an incremental batch in which some earlier drugs
change route category (an SCD2 version change on ``gold.dim_drug``) and
drugs never seen before arrive. Drug and reaction names are Zipf-skewed,
and dates, ages and weights are malformed at fixed rates.

Every drug has one role and one route per quarter, so the expected shape of
``gold.dim_drug`` follows from the generated rows alone (``expected_dim_drug``).
The same seed and quarter count give byte-identical files.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np

from faers_datalakehouse_spark.plans.medallion import BRONZE_COLUMNS

ROLES = ["PS", "SS", "C", "I"]
# one route per route_category bucket, so a route change is a category change
ROUTES = ["ORAL", "INTRAVENOUS", "INTRAMUSCULAR", "SUBCUTANEOUS", "TOPICAL", "INHALATION"]
SEXES = ["F", "M", "UNK"]
AGE_CODES = ["YR", "YR", "YR", "MON", "DEC", "WK", "DY"]
WT_CODES = ["KG", "KG", "LBS"]
OCCUPATIONS = ["MD", "PH", "CN", "OT", "LW", "HP"]
COUNTRIES = ["US", "CA", "GB", "DE", "FR", "JP", "CN", "IN", "BR", "AU", "ZA", "EG"]
OUTCOMES = ["DE", "LT", "HO", "DS", "CA", "RI", "OT"]
REPORT_SOURCES = ["HP", "CSM", "LW", "OTH", "UNK"]
DUR_CODES = ["DY", "WK", "MON", "YR", "HR"]
FREQUENCIES = ["", ", ONCE DAILY", ", TWICE DAILY", ", WEEKLY", ", AS NEEDED"]
DOSE_UNITS = ["MG", "ML", "MCG", "G"]
PT_STEMS = [
    "NAUSEA", "CARDIAC ARREST", "LIVER INJURY", "RENAL FAILURE", "SEIZURE",
    "SEVERE RASH", "PNEUMONIA", "SEPSIS", "DEPRESSION", "HEADACHE",
    "DEATH", "MILD FATIGUE", "MODERATE DIZZINESS", "LUNG NEOPLASM",
    "HOSPITALISATION", "DIARRHOEA", "ANXIETY", "MYOCARDIAL INFARCTION",
]
INDICATION_STEMS = [
    "RHEUMATOID ARTHRITIS", "DIABETES MELLITUS", "HYPERTENSION", "ACUTE PAIN",
    "BREAST CANCER", "DEPRESSION", "ASTHMA", "EPILEPSY", "HIV INFECTION",
    "MILD HEADACHE", "HEART FAILURE", "PSORIASIS",
]

# malformation rates, per value
BAD_DATE_RATE = 0.05  # "unknown" text
PARTIAL_DATE_RATE = 0.05  # yyyyMM
EMPTY_DATE_RATE = 0.05
BAD_AGE_RATE = 0.04
BAD_WEIGHT_RATE = 0.06

DRUG_VOCAB = 400  # quarter-1 drug names; each later quarter adds NEW_DRUGS more
NEW_DRUGS = 40
ROUTE_CHANGE_SHARE = 0.15  # share of DRUG_VOCAB that changes route in each later quarter
ZIPF_A = 1.3


@dataclass(frozen=True)
class Quarter:
    tag: str
    first_id: int
    year: int
    first_month: int


QUARTERS = tuple(
    Quarter(f"q{k + 1}", (k + 1) * 1_000_000, 2024 + k // 4, 1 + 3 * (k % 4)) for k in range(12)
)


def _zipf_index(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -ZIPF_A
    return rng.choice(n, size=size, p=p / p.sum())


def _date(rng: np.random.Generator, year: int, first_month: int, n: int) -> list[str]:
    month = first_month + rng.integers(0, 3, n)
    day = rng.integers(1, 29, n)
    mode = rng.random(n)
    out = []
    for m, d, u in zip(month, day, mode):
        if u < BAD_DATE_RATE:
            out.append("unknown")
        elif u < BAD_DATE_RATE + PARTIAL_DATE_RATE:
            out.append(f"{year}{m:02d}")
        elif u < BAD_DATE_RATE + PARTIAL_DATE_RATE + EMPTY_DATE_RATE:
            out.append("")
        else:
            out.append(f"{year}{m:02d}{d:02d}")
    return out


def _drug_attrs(rng: np.random.Generator, n_quarters: int) -> list[list[tuple[int, int]]]:
    """(role, route) index per drug, for each quarter. Quarter ``k`` (from 0)
    draws from the first ``DRUG_VOCAB + k * NEW_DRUGS`` drugs; in each later
    quarter a ROUTE_CHANGE_SHARE slice of the drugs that already exist moves
    to a different route."""
    n = DRUG_VOCAB + NEW_DRUGS * (n_quarters - 1)
    role = rng.integers(0, len(ROLES), n)
    route = rng.integers(0, len(ROUTES), n)
    out = [[(int(role[i]), int(route[i])) for i in range(n)]]
    for k in range(1, n_quarters):
        attrs = list(out[-1])
        known = DRUG_VOCAB + NEW_DRUGS * (k - 1)
        for i in rng.choice(known, size=int(DRUG_VOCAB * ROUTE_CHANGE_SHARE), replace=False):
            shift = int(rng.integers(1, len(ROUTES)))
            attrs[i] = (attrs[i][0], (attrs[i][1] + shift) % len(ROUTES))
        out.append(attrs)
    return out


def _drug_name(i: int) -> str:
    return f"DRUG{i:04d}"


def _quarter_rows(
    rng: np.random.Generator,
    q: Quarter,
    n_cases: int,
    attrs: list[tuple[int, int]],
    vocab_lo: int,
    vocab_hi: int,
) -> dict[str, list[list[str]]]:
    rows: dict[str, list[list[str]]] = {name: [] for name in BRONZE_COLUMNS}
    ids = [str(q.first_id + i) for i in range(n_cases)]
    cases = [str(q.first_id * 10 + i) for i in range(n_cases)]
    ev, rp, fd = (_date(rng, q.year, q.first_month, n_cases) for _ in range(3))
    age = rng.integers(1, 95, n_cases)
    age_bad = rng.random(n_cases) < BAD_AGE_RATE
    age_cod = rng.integers(0, len(AGE_CODES), n_cases)
    wt = np.round(rng.uniform(3, 150, n_cases), 1)
    wt_bad = rng.random(n_cases) < BAD_WEIGHT_RATE
    for i in range(n_cases):
        rows["demographics"].append([
            ids[i], cases[i], ev[i], rp[i], fd[i],
            "n/a" if age_bad[i] else str(age[i]), AGE_CODES[age_cod[i]],
            SEXES[rng.integers(0, 3)],
            "" if wt_bad[i] else str(wt[i]), WT_CODES[rng.integers(0, 3)],
            OCCUPATIONS[rng.integers(0, len(OCCUPATIONS))],
            COUNTRIES[rng.integers(0, len(COUNTRIES))],
        ])
    n_drugs = rng.integers(1, 5, n_cases)
    total = int(n_drugs.sum())
    drug_ix = vocab_lo + _zipf_index(rng, vocab_hi - vocab_lo, total)
    pt_ix = _zipf_index(rng, len(PT_STEMS), n_cases * 2)
    k = 0
    for i in range(n_cases):
        for seq in range(1, int(n_drugs[i]) + 1):
            d = int(drug_ix[k])
            k += 1
            role, route = attrs[d]
            dose = f"{rng.integers(1, 1000)} {DOSE_UNITS[rng.integers(0, 4)]}"
            rows["drug_details"].append([
                ids[i], cases[i], str(seq), ROLES[role], _drug_name(d), ROUTES[route],
                dose + FREQUENCIES[rng.integers(0, len(FREQUENCIES))],
            ])
            start = _date(rng, q.year, q.first_month, 1)[0]
            dur = rng.integers(1, 60)
            rows["therapy_dates"].append([
                ids[i], cases[i], str(seq), start, "",
                str(dur), DUR_CODES[rng.integers(0, len(DUR_CODES))],
            ])
        for j in range(1 + int(rng.integers(0, 2))):
            rows["reactions"].append([
                ids[i], cases[i], PT_STEMS[pt_ix[2 * i + j]], str(rng.integers(1, 3)),
            ])
        rows["outcomes"].append([ids[i], cases[i], OUTCOMES[rng.integers(0, len(OUTCOMES))]])
        rows["indications"].append([
            ids[i], cases[i], "1", INDICATION_STEMS[rng.integers(0, len(INDICATION_STEMS))],
        ])
        rows["reports"].append([ids[i], cases[i], REPORT_SOURCES[rng.integers(0, 5)]])
    return rows


def generate(
    out_dir: str | Path, seed: int, n_cases: int, n_quarters: int = 2
) -> dict[str, dict[str, str]]:
    """Write ``n_quarters`` quarters under ``out_dir/<quarter>/<table>.csv``.

    Returns ``{quarter_tag: {table: path}}`` in load order, each value the
    ``sources`` argument ``run_pipeline`` takes for that quarter.
    """
    if not 2 <= n_quarters <= len(QUARTERS):
        raise ValueError(f"n_quarters must be 2..{len(QUARTERS)}, got {n_quarters}")
    rng = np.random.default_rng(seed)
    out: dict[str, dict[str, str]] = {}
    for k, attrs in enumerate(_drug_attrs(rng, n_quarters)):
        q = QUARTERS[k]
        # later quarters draw from the whole vocabulary so far, so old,
        # changed and new drugs mix
        rows = _quarter_rows(rng, q, n_cases, attrs, 0, DRUG_VOCAB + NEW_DRUGS * k)
        qdir = Path(out_dir) / q.tag
        qdir.mkdir(parents=True, exist_ok=True)
        out[q.tag] = {}
        for name, cols in BRONZE_COLUMNS.items():
            path = qdir / f"{name}.csv"
            body = "\n".join("$".join(r) for r in rows[name])
            path.write_text("$".join(cols) + "\n" + body + "\n")
            out[q.tag][name] = str(path)
    return out


def _rows(path: str) -> list[list[str]]:
    with open(path) as fh:
        next(fh)
        return [line.rstrip("\n").split("$") for line in fh]


def expected_dim_drug(sources: dict[str, dict[str, str]]) -> tuple[int, int]:
    """(total rows, current rows) ``gold.dim_drug`` must hold after every
    quarter in ``sources`` is loaded in order, derived from the CSVs alone:
    one version per drug seen, plus one each time a drug arrives with a
    (role, route) that differs from its current version."""
    current: dict[str, tuple[str, str]] = {}
    versions = 0
    for q in sources.values():
        for f in _rows(q["drug_details"]):
            if current.get(f[4]) != (f[3], f[5]):
                versions += 1
                current[f[4]] = (f[3], f[5])
    return versions, len(current)


# case-level SCD2 dims: (source extract, key columns). Case ids never repeat
# across quarters, so each dim holds one row per distinct key.
CASE_DIM_KEYS = {
    "dim_patient": ("demographics", ("primaryid", "caseid")),
    "dim_reaction": ("reactions", ("primaryid", "caseid", "pt")),
    "dim_outcome": ("outcomes", ("primaryid", "caseid", "outc_cod")),
    "dim_indication": ("indications", ("primaryid", "caseid", "indi_pt")),
    "dim_therapy": ("therapy_dates", ("primaryid", "caseid", "dsg_drug_seq")),
    "dim_report": ("reports", ("primaryid", "caseid")),
}


def expected_case_dims(sources: dict[str, dict[str, str]]) -> dict[str, int]:
    """Rows each case-level gold dim must hold after every quarter in ``sources``."""
    out = {}
    for dim, (name, keys) in CASE_DIM_KEYS.items():
        ix = [BRONZE_COLUMNS[name].index(k) for k in keys]
        out[dim] = len({tuple(f[i] for i in ix) for q in sources.values() for f in _rows(q[name])})
    return out
