"""Historical backfill: same medallion increment as streaming, driven from a
Bronze date range; idempotent re-runs and Gold delete-and-rebuild."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest

pytestmark = pytest.mark.slow  # full suite is the gate; -m 'not slow' is the fast path

from schwab_elt_etl_pipeline_spark.plans.backfill import backfill_medallion
from schwab_elt_etl_pipeline_spark.schemas import QUOTES_STREAM
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable

PT = dt.timezone(dt.timedelta(hours=-7))


def _ms(day: int, hh: int, mm: int) -> int:
    return int(dt.datetime(2024, 6, day, hh, mm, tzinfo=PT).timestamp() * 1000)


def _sym(strike: int) -> str:
    return f"SPXW  240621C{strike * 1000:08d}"


def _day_rows(day: int, base: float):
    rows = [
        (_ms(day, 6, 30), _sym(s), base + i, _ms(day, 6, 30), None, None)
        for i, s in enumerate([5500, 5505, 5510])
    ]
    rows.append((_ms(day, 6, 30), "$SPX", None, None, 5505.0, _ms(day, 6, 30)))
    return rows


@pytest.fixture()
def wh():
    d = tempfile.mkdtemp(prefix="bfwh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_backfill_range_idempotent_and_rebuild(spark, wh):
    bronze = spark.createDataFrame(
        _day_rows(17, 20.0) + _day_rows(18, 30.0), QUOTES_STREAM
    )
    tables = {
        n: ParquetTable(spark, f"{wh}/{n}")
        for n in ("opt", "optm", "und", "vert", "vert_ts")
    }

    def run(**kw):
        return backfill_medallion(
            bronze, tables["opt"], tables["optm"], tables["und"],
            tables["vert"], tables["vert_ts"],
            start=dt.date(2024, 6, 17), end=dt.date(2024, 6, 18),
            width=5, **kw,
        )

    days = run()
    assert days == [dt.date(2024, 6, 17), dt.date(2024, 6, 18)]
    n_vert = tables["vert"].read().count()
    n_ts = tables["vert_ts"].read().count()
    assert n_vert >= 2 and n_ts >= n_vert
    ts_days = {
        r["d"]
        for r in tables["vert_ts"].read().selectExpr("to_date(T) AS d").distinct().collect()
    }
    assert ts_days == {dt.date(2024, 6, 17), dt.date(2024, 6, 18)}

    assert all(t.exists() for t in tables.values())

    # re-running the same backfill inserts nothing: no new version and no
    # appended (empty) file in any table
    state = {n: (t.current_version(), sorted(t.data_files())) for n, t in tables.items()}
    run()
    assert {n: (t.current_version(), sorted(t.data_files())) for n, t in tables.items()} == state
    assert tables["vert"].read().count() == n_vert
    assert tables["vert_ts"].read().count() == n_ts

    # partial rebuild: delete-and-reinsert day 18 only
    before_17 = (
        tables["vert_ts"].read().filter("to_date(T) = DATE'2024-06-17'").count()
    )
    backfill_medallion(
        bronze, tables["opt"], tables["optm"], tables["und"],
        tables["vert"], tables["vert_ts"],
        start=dt.date(2024, 6, 18), end=dt.date(2024, 6, 18),
        width=5, rebuild_gold=True,
    )
    assert tables["vert_ts"].read().count() == n_ts  # rebuilt to the same state
    assert (
        tables["vert_ts"].read().filter("to_date(T) = DATE'2024-06-17'").count()
        == before_17
    )  # untouched day preserved
