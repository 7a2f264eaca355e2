"""The benchmark's workloads: setup, operations, and correctness gates.

Every workload is a closed loop with one client: the next operation starts
when the previous one has returned, matching how ``foreachBatch`` serialises
micro-batches, how a backfill runs days in sequence, and how one analyst
issues queries. Workloads reach the engine only through
``streaming.pipeline``, ``plans.backfill``, ``plans.silver``/``plans.gold``,
``sources.warehouse.ParquetTable`` and ``streaming.quotes``, always through
the module attribute, so the tracing wrappers see every call.

A workload exposes ``next_op()`` -> ``(kind, fn)`` or ``None`` when its input
is exhausted (input preparation happens here, outside the op's time), where
``fn()`` performs one operation and returns the items it processed, and
``gates()`` -> ``(run_errors, op_errors, extras)`` for after the timed
interval.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import oracle, ticks
from schwab_elt_etl_pipeline_spark.plans import backfill, gold, silver
from schwab_elt_etl_pipeline_spark.schemas import QUOTES_STREAM
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming import pipeline, quotes

TABLES = ("opt", "optm", "und", "vert", "vert_ts")
WIDTH = 5
OPT_RANGE = 100
BRONZE_SCHEMA = T.StructType(QUOTES_STREAM.fields + [T.StructField("date", T.DateType())])

_WEEKDAYS = tuple(
    dt.date(2024, 6, 17) + dt.timedelta(days=d) for d in range(28) if d % 7 < 5
)
#: 80-contract 0DTE chain at 4 ticks per contract-minute: ~3.2k ticks per
#: ten-minute micro-batch.
INTRADAY = ticks.ChainSpec(strikes=40, ticks_per_contract_minute=4, days=_WEEKDAYS[:1])
#: a wider chain (120 contracts) at twice the ticks per contract-minute:
#: ~390k ticks per day.
EOD = ticks.ChainSpec(strikes=60, ticks_per_contract_minute=8, days=_WEEKDAYS[:15])
#: a 40-contract chain over two days: the first backfilled, the last live —
#: one micro-batch has delivered its first hour.
READS = ticks.ChainSpec(strikes=20, ticks_per_contract_minute=2, days=_WEEKDAYS[:2])
READS_LIVE_MINUTES = 60
#: throwaway warehouse for warm-up: a tiny chain on a date no workload uses.
WARMUP = ticks.ChainSpec(strikes=4, ticks_per_contract_minute=2, days=(dt.date(2024, 6, 14),))


class Warehouse:
    """The five medallion tables under one fresh directory."""

    def __init__(self, spark, root: str):
        self.tables = {n: ParquetTable(spark, os.path.join(root, n)) for n in TABLES}
        self.opt, self.optm, self.und, self.vert, self.vert_ts = (
            self.tables[n] for n in TABLES
        )

    def args(self) -> list[ParquetTable]:
        return [self.tables[n] for n in TABLES]

    def footprint(self) -> dict[str, dict[str, int]]:
        """Files, bytes and committed versions per table, from the filesystem."""
        out = {}
        for name, table in self.tables.items():
            files = table.data_files()
            out[name] = {
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
                "versions": table.current_version() or 0,
            }
        return out


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def read_ticks(spark, paths) -> DataFrame:
    return spark.read.schema(QUOTES_STREAM).parquet(*([paths] if isinstance(paths, str) else paths))


def apply_batch(spark, wh: Warehouse, path: str) -> None:
    pipeline.apply_medallion_batch(
        read_ticks(spark, path), *wh.args(), width=WIDTH, opt_range=OPT_RANGE
    )


def warm_up(ctx) -> None:
    """Let JIT and codegen warm up: one medallion increment on a throwaway
    warehouse (a second one would cost more of the run budget than the
    steadier first timed operations it buys)."""
    batch = ticks.micro_batches(WARMUP, ctx.seed, 0, batch_minutes=200)[0]
    path = write_parquet(batch, ctx.path("warmup_in.parquet"))
    apply_batch(ctx.spark, Warehouse(ctx.spark, ctx.path("warmup")), path)


def oneshot_gold(bronze: DataFrame, days: list[dt.date]) -> pa.Table:
    """``run_silver`` -> ``run_gold`` per day over all of ``bronze`` at once:
    the reference the incremental paths are compared with. Rows carry the
    natural key (SS, CP, Expiry, T) and (O, AVG_R)."""
    opt, optm = (df.localCheckpoint() for df in silver.run_silver(bronze))
    und = silver.parse_underlying(bronze).localCheckpoint()
    first_t = dict(optm.groupBy(F.to_date("T").alias("d")).agg(F.min("T")).collect())
    parts = []
    for day in days:
        day_optm = optm.filter(F.to_date("T") == F.lit(day))
        min_time = first_t.get(day)
        if min_time is None:
            continue
        vert, ts = gold.run_gold(
            day_optm, opt, und.filter(F.to_date("T") == F.lit(day)),
            min_time=min_time, width=WIDTH, opt_range=OPT_RANGE,
        )
        parts.append(
            ts.join(vert, "VID").select("SS", "CP", "Expiry", "T", "O", "AVG_R").toArrow()
        )
    return pa.concat_tables(parts)


def gold_gate(ctx, wh: Warehouse, bronze: DataFrame, days: list[dt.date]):
    """(natural keys where the warehouse's Gold for ``days`` differs from
    :func:`oneshot_gold`, errors for duplicate keys on either side)."""
    con = ctx.duck
    expected = oneshot_gold(bronze, days)
    # toArrow labels TIMESTAMP_NTZ as UTC; the wall-clock values are what count
    expected = expected.set_column(
        expected.schema.get_field_index("T"), "T", expected.column("T").cast(pa.timestamp("us"))
    )
    con.register("oneshot", expected)
    actual = oracle.gold_rows(wh.vert, wh.vert_ts, days)
    errors = [
        f"{name} Gold has {dup} duplicate natural keys"
        for name, rel in (("warehouse", actual), ("one-shot", "SELECT * FROM oneshot"))
        if (dup := oracle.key_duplicates(con, rel))
    ]
    mismatched = oracle.mismatch_count(con, actual, "SELECT * FROM oneshot")
    con.unregister("oneshot")
    return mismatched, errors


class IntradayStream:
    """One 06:30-13:00 session of a 0DTE chain plus $SPX, fed to
    ``apply_medallion_batch`` in ten-minute micro-batches. Setup applies the
    first micro-batch — the pre-session minutes, which create the tables — so
    the timed op is a steady-state increment. The timed work is a fixed
    number of micro-batches, not as many as fit in the run: the warehouse at
    the end, and so ``stored_bytes_per_tick`` and ``gold_rows_mismatched``,
    must not depend on how fast the engine is."""

    name = "intraday_stream"
    write_spans = "timed"  # where the write-layer spans come from
    timed_batches = 1  # each costs 6-15 s of the run budget

    def __init__(self, ctx):
        self.ctx = ctx
        warm_up(ctx)
        ctx.log("warm-up done")
        self.wh = Warehouse(ctx.spark, ctx.path("intraday"))
        self.pending = ticks.micro_batches(INTRADAY, ctx.seed, 0)
        self.ingested: list[tuple[pa.Table, str]] = []
        _, first_batch = self.next_op()
        first_batch()

    def next_op(self):
        if len(self.ingested) > self.timed_batches or not self.pending:
            return None
        batch = self.pending.pop(0)
        path = write_parquet(batch, self.ctx.path(f"intraday_in/b{len(self.ingested):04d}.parquet"))

        def run():
            self.ingested.append((batch, path))
            apply_batch(self.ctx.spark, self.wh, path)
            return batch.num_rows

        return "micro_batch", run

    def ticks_in(self) -> int:
        return sum(b.num_rows for b, _ in self.ingested)

    def gates(self):
        days = list(INTRADAY.days)
        errors = oracle.check_silver(
            self.ctx.duck, [b for b, _ in self.ingested], self.wh.opt, self.wh.optm, days
        )
        self.ctx.log("silver gate done")
        bronze = read_ticks(self.ctx.spark, [p for _, p in self.ingested])
        mismatched, gold_errors = gold_gate(self.ctx, self.wh, bronze, days)
        return errors + gold_errors, {}, {"gold_rows_mismatched": mismatched}


class Bronze:
    """Date-partitioned Bronze directory (``date=YYYY-MM-DD/*.parquet``)."""

    def __init__(self, ctx, name: str):
        self.ctx = ctx
        self.root = ctx.path(name)
        os.makedirs(self.root, exist_ok=True)

    def add(self, day: dt.date, table: pa.Table, part: str) -> str:
        return write_parquet(table, os.path.join(self.root, f"date={day}", f"{part}.parquet"))

    def read(self) -> DataFrame:
        return self.ctx.spark.read.schema(BRONZE_SCHEMA).parquet(self.root)

    def duck(self, day: dt.date) -> str:
        return f"read_parquet('{self.root}/date={day}/*.parquet')"


class EodBackfill:
    """Days of date-partitioned Bronze reprocessed by ``backfill_medallion``,
    one day per operation, into a growing warehouse."""

    name = "eod_backfill"
    write_spans = "timed"

    def __init__(self, ctx):
        self.ctx = ctx
        warm_up(ctx)
        self.wh = Warehouse(ctx.spark, ctx.path("eod"))
        self.bronze = Bronze(ctx, "eod_bronze")
        self.done: list[tuple[dt.date, pa.Table]] = []

    def next_op(self):
        if len(self.done) == len(EOD.days):
            return None
        i = len(self.done)
        day, table = EOD.days[i], ticks.generate(EOD, self.ctx.seed, i)
        self.bronze.add(day, table, "part-00000")

        def run():
            self.done.append((day, table))
            backfill.backfill_medallion(
                self.bronze.read(), *self.wh.args(), start=day, end=day,
                width=WIDTH, opt_range=OPT_RANGE,
            )
            return table.num_rows

        return "day", run

    def ticks_in(self) -> int:
        return sum(t.num_rows for _, t in self.done)

    def gates(self):
        days = [d for d, _ in self.done]
        errors = oracle.check_silver(
            self.ctx.duck, [t for _, t in self.done], self.wh.opt, self.wh.optm, days
        )
        bronze = self.bronze.read().filter(F.col("date").isin(days))
        mismatched, gold_errors = gold_gate(self.ctx, self.wh, bronze, days)
        if mismatched:
            gold_errors.append(f"Gold differs from run_silver->run_gold on {mismatched} keys")
        return errors + gold_errors, {}, {}


# -- gold_reads ----------------------------------------------------------------
def q_spread_series(wh, bronze, vid, day):
    return (
        wh.vert_ts.read()
        .filter((F.col("VID") == vid) & (F.to_date("T") == F.lit(day)))
        .orderBy("T")
        .select("T", "O", "AVG_R")
        .collect()
    )


def q_latest_spreads(wh, bronze, day):
    latest = (
        wh.vert_ts.read()
        .filter(F.to_date("T") == F.lit(day))
        .groupBy("VID")
        .agg(F.max("T").alias("T"), F.max_by("O", "T").alias("O"), F.max_by("AVG_R", "T").alias("AVG_R"))
    )
    return latest.join(wh.vert.read(), "VID").select("VID", "SS", "CP", "T", "O", "AVG_R").collect()


def q_chain_at(wh, bronze, day, at):
    start = dt.datetime.combine(day, dt.time(0))
    marks = (
        wh.optm.read()
        .filter((F.col("T") >= F.lit(start)) & (F.col("T") <= F.lit(at)))
        .groupBy("OPT_ID")
        .agg(F.max("T").alias("T"), F.max_by("O", "T").alias("O"))
    )
    return marks.join(wh.opt.read(), "OPT_ID").select("Strike", "CP", "Expiry", "T", "O").collect()


def q_candles(wh, bronze, symbol, day):
    ticks_ = bronze.read().filter((F.col("date") == F.lit(day)) & (F.col("symbol") == symbol))
    return (
        quotes.windowed_candles(ticks_)
        .select("symbol", F.unix_millis("window_start").alias("w"), "O", "H", "L", "C", "V")
        .collect()
    )


def q_latest_quotes(wh, bronze, day):
    return quotes.latest_per_key(bronze.read().filter(F.col("date") == F.lit(day))).collect()


QUERIES = {
    "spread_series": q_spread_series,
    "latest_spreads": q_latest_spreads,
    "chain_at": q_chain_at,
    "candles": q_candles,
    "latest_quotes": q_latest_quotes,
}
#: the timed mix cycles through the kinds in this order, one of each per cycle
KINDS = list(QUERIES)


class GoldReads:
    """Seeded read mix over a warehouse that setup built the way a live one
    grows: every day but the last backfilled, then the live day's first
    micro-batch streamed in, so tables hold backfilled versions and small
    appended files."""

    name = "gold_reads"
    write_spans = "setup"

    def __init__(self, ctx):
        self.ctx = ctx
        self.wh = Warehouse(ctx.spark, ctx.path("reads"))
        self.bronze = Bronze(ctx, "reads_bronze")
        self.tables = [ticks.generate(READS, ctx.seed, d) for d in range(len(READS.days))]
        *backfilled, last = READS.days
        with ctx.setup_spans():
            for day, table in zip(backfilled, self.tables):
                self.bronze.add(day, table, "part-00000")
            backfill.backfill_medallion(
                self.bronze.read(), *self.wh.args(), start=backfilled[0],
                end=backfilled[-1], width=WIDTH, opt_range=OPT_RANGE,
            )
            ctx.log("backfill done")
            batches = ticks.micro_batches(READS, ctx.seed, len(backfilled), READS_LIVE_MINUTES)[:1]
            self.delivered = self.tables[:-1] + batches
            for i, batch in enumerate(batches):
                apply_batch(ctx.spark, self.wh, self.bronze.add(last, batch, f"batch-{i:05d}"))
                ctx.log(f"micro-batch {i} done")
        self.vids = [r[0] for r in ctx.duck.execute(
            f"SELECT VID FROM {oracle.scan(self.wh.vert)} ORDER BY VID").fetchall()]
        self.symbols = sorted(
            set(self.tables[-1].column("symbol").to_pylist()) - {"$SPX"}
        )
        self.rng = random.Random(ctx.seed)
        self._ops = 0
        self.results: dict[int, tuple[str, dict, list]] = {}
        for _ in range(2):  # read-path warm-up, unrecorded
            for kind, query in QUERIES.items():
                query(self.wh, self.bronze, **self._params(kind))

    def ticks_in(self) -> int:
        return sum(t.num_rows for t in self.delivered)

    def _params(self, kind):
        day = self.rng.choice(READS.days)
        if kind == "spread_series":
            return {"vid": self.rng.choice(self.vids), "day": day}
        if kind == "chain_at":
            minute = self.rng.randrange(390)
            return {"day": day, "at": dt.datetime.combine(day, dt.time(6, 30)) + dt.timedelta(minutes=minute)}
        if kind == "candles":
            return {"symbol": self.rng.choice(self.symbols), "day": day}
        return {"day": day}

    def next_op(self):
        kind = KINDS[self._ops % len(KINDS)]
        params = self._params(kind)
        query = QUERIES[kind]
        op = self._ops
        self._ops += 1

        def run():
            rows = query(self.wh, self.bronze, **params)
            self.results[op] = (kind, params, rows)
            return len(rows)

        return kind, run

    def gates(self):
        con = self.ctx.duck
        op_errors = {}
        for i, (kind, params, rows) in self.results.items():
            errs = oracle.check_read(con, kind, params, rows, self.wh, self.bronze)
            if errs:
                op_errors[i] = errs
        errors = oracle.check_silver(con, self.delivered, self.wh.opt, self.wh.optm, list(READS.days))
        return errors, op_errors, {}


WORKLOADS = {w.name: w for w in (IntradayStream, EodBackfill, GoldReads)}
