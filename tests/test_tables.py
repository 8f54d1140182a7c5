"""The parquet schema memo (``sources.tables.read_parquet``): a memoised
read is the same relation as a plain ``spark.read.parquet``, a repeated read
launches no Spark job, and the key tracks the files' content and the
inference confs.  Plus the two ``events.ts`` encodings ``load_table``
normalizes, cold and memoised."""

from __future__ import annotations

import re
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import configure
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import (
    TABLE_NAMES,
    load_table,
    read_parquet,
)

from .conftest import SF_SMOKE


@contextmanager
def spark_jobs(spark):
    """Collects the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"test-tables-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    """Optimized logical plan with expression ids stripped."""
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_memoised_read_is_the_plain_read(spark, name):
    configure(spark)
    path = f"{SF_SMOKE}/{name}.parquet"
    read_parquet(spark, path)  # populate
    with spark_jobs(spark) as jobs:
        memo = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert jobs == []
    assert memo.schema == plain.schema
    assert _plan(memo) == _plan(plain)


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_second_load_launches_no_job(spark, name):
    load_table(spark, SF_SMOKE, name)
    with spark_jobs(spark) as jobs:
        load_table(spark, SF_SMOKE, name)
    assert jobs == []


def test_rewritten_file_is_a_new_key(spark, tmp_path):
    table = pq.read_table(f"{SF_SMOKE}/region.parquet")
    pq.write_table(table, tmp_path / "region.parquet")
    with spark_jobs(spark) as cold:
        before = load_table(spark, str(tmp_path), "region").columns
    assert cold, "a first read of new content must infer its schema"
    assert "r_extra" not in before

    pq.write_table(table.append_column("r_extra", pa.array(range(table.num_rows))), tmp_path / "region.parquet")
    after = load_table(spark, str(tmp_path), "region")
    assert after.columns == before + ["r_extra"]
    assert sorted(r.r_extra for r in after.collect()) == list(range(table.num_rows))


def test_inference_conf_is_part_of_the_key(spark):
    # a clone: the flipped conf must not leak into the shared session
    clone = configure(spark.newSession())
    path = f"{SF_SMOKE}/region.parquet"
    read_parquet(clone, path)
    with spark_jobs(clone) as hit:
        read_parquet(clone, path)
    clone.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    with spark_jobs(clone) as flipped:
        read_parquet(clone, path)
    assert hit == []
    assert flipped, "flipping nanosAsLong must miss the memo"


# -- events.ts: TIMESTAMP(NANOS) and NTZ TIMESTAMP(MICROS) --------------------

#: epoch-nanos with sub-microsecond remainders, all after 1970 (positive)
_TS_NANOS = [
    1_711_099_800 * 10**9 + 123_456_789,  # 2024-03-22 09:30 UTC
    1_672_531_200 * 10**9 + 999,  # 2023-01-01 00:00 UTC
    1_735_689_599 * 10**9 + 1_000,  # 2024-12-31 23:59:59 UTC
]


def _write_events(directory, ts_type: pa.DataType, values: list[int]) -> None:
    directory.mkdir()
    table = pa.table(
        {
            "event_id": pa.array(range(len(values)), pa.int64()),
            "ts": pa.array(values, ts_type),
        }
    )
    # version 2.6 keeps nanosecond timestamps as TIMESTAMP(NANOS); a naive
    # pyarrow timestamp is written with isAdjustedToUTC=false
    pq.write_table(table, directory / "events.parquet", version="2.6")


@pytest.mark.parametrize(
    "unit, values",
    [
        ("ns", _TS_NANOS),
        ("us", [v // 1000 for v in _TS_NANOS]),
    ],
)
def test_events_ts_encodings_normalize_to_the_same_micros(spark, tmp_path, unit, values):
    _write_events(tmp_path / unit, pa.timestamp(unit), values)
    logical = pq.ParquetFile(tmp_path / unit / "events.parquet").schema.column(1).logical_type
    unit_name = {"ns": "nanoseconds", "us": "microseconds"}[unit]
    assert f"isAdjustedToUTC=false, timeUnit={unit_name}" in str(logical)

    expected = [v // 1000 for v in _TS_NANOS]
    reads = []
    for _ in range(2):  # cold, then a memo hit
        with spark_jobs(spark) as jobs:
            df = load_table(spark, str(tmp_path / unit), "events")
        reads.append(jobs)
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [r.us for r in df.selectExpr("unix_micros(ts) AS us").orderBy("event_id").collect()]
        assert got == expected
    assert reads[0] and not reads[1]
