from __future__ import annotations

import tempfile

import pytest

from faers_datalakehouse_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Fresh warehouse per test session: the in-memory catalog resets on
    # session restart but managed-table directories persist, so reusing a
    # warehouse path collides with LOCATION_ALREADY_EXISTS on re-create.
    wh = tempfile.mkdtemp(prefix="spark_wh_")
    s = get_spark(
        "tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001



@pytest.fixture
def events_with_ts_encoding(sf_dir, tmp_path):
    """Writer of ``events.parquet`` copies with ``ts`` re-encoded as one of
    the parquet encodings the driver's testdata has shipped:
    TIMESTAMP(NANOS) (``ts_nanos``), timestamp[us] isAdjustedToUTC=false
    (``ts_us_ntz``) or UTC-adjusted micros (``ts_us_utc``). Returns the
    directory holding the copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(encoding: str) -> str:
        t = pq.read_table(f"{sf_dir}/events.parquet")
        idx = t.schema.get_field_index("ts")
        ts_us_ntz = t.column(idx).cast(pa.timestamp("us"))
        if encoding == "ts_us_ntz":
            ts = ts_us_ntz
        elif encoding == "ts_us_utc":
            ts = ts_us_ntz.cast(pa.timestamp("us", tz="UTC"))
        else:
            ts = ts_us_ntz.cast(pa.timestamp("ns"))
        t = t.set_column(idx, pa.field("ts", ts.type), ts)
        d = tmp_path / encoding
        d.mkdir()
        # version=2.6 keeps nanos as parquet TIMESTAMP(NANOS) instead of
        # silently coercing to micros
        pq.write_table(t, d / "events.parquet", version="2.6")
        return str(d)

    return write
