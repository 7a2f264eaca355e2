"""Correctness gates: DuckDB over the generated ticks and the warehouse files.

Every check reads what the engine committed straight from the parquet files
of each table's current ``_v{n}`` version (``ParquetTable.data_files``), so
the checks add no Spark jobs and share no code path with the engine.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa

# Silver's parse / session filter / MAX dedup, written independently in SQL.
# OPTM is insert-only on (OPT_ID, T): a key keeps the MAX mark of the first
# batch that delivered it, and a later batch (late or duplicate ticks) cannot
# change it. ``{ticks}`` carries a ``batch`` column in delivery order.
SILVER_SQL = """
WITH parsed AS (
    SELECT CAST(trunc(CAST(substr(symbol, 14, 8) AS BIGINT) / 1000) AS INTEGER) AS Strike,
           CAST(CASE WHEN substr(symbol, 13, 1) = 'C' THEN 1 ELSE -1 END AS SMALLINT) AS CP,
           strptime(substr(symbol, 7, 6), '%y%m%d')::DATE AS Expiry,
           timezone('America/Los_Angeles', epoch_ms("38") AT TIME ZONE 'UTC') AS T,
           "37" AS mark, batch
    FROM {ticks}
    WHERE symbol <> '$SPX' AND "37" IS NOT NULL AND "38" IS NOT NULL
      AND regexp_full_match(symbol, '.{{6}}[0-9]{{6}}[CP][0-9]{{8}}')
), kept AS (
    SELECT *, min(batch) OVER (PARTITION BY Strike, CP, Expiry, T) AS first_batch
    FROM parsed
    WHERE Strike <> 0
      AND hour(T) * 3600 + minute(T) * 60 + second(T) BETWEEN 6 * 3600 + 30 * 60 AND 13 * 3600
)
SELECT Strike, CP, Expiry, T, CAST(max(mark) AS DECIMAL(9, 2)) AS O
FROM kept WHERE batch = first_batch
GROUP BY Strike, CP, Expiry, T
"""


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def scan(table) -> str:
    """SQL table expression over a ParquetTable's current version."""
    files = table.data_files()
    if not files:
        raise AssertionError(f"table has no data files: {table.path}")
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def check_silver(con, batches: list[pa.Table], opt, optm, days: list[dt.date]) -> list[str]:
    """OPT/OPTM equal to :data:`SILVER_SQL` over ``batches`` (in delivery
    order) on natural keys; keys unique; every OPTM T inside 06:30-13:00 on
    one of ``days``."""
    errors = []
    ticks = pa.concat_tables(
        b.append_column("batch", pa.array([i] * b.num_rows, pa.int32()))
        for i, b in enumerate(batches)
    )
    con.register("gen_ticks", ticks)
    expected = SILVER_SQL.format(ticks="gen_ticks")
    o, m = scan(opt), scan(optm)
    actual = f"SELECT Strike, CP, Expiry, T, O FROM {m} m JOIN {o} o USING (OPT_ID)"
    only_expected = con.execute(f"SELECT count(*) FROM (({expected}) EXCEPT ({actual}))").fetchone()[0]
    only_actual = con.execute(f"SELECT count(*) FROM (({actual}) EXCEPT ({expected}))").fetchone()[0]
    if only_expected or only_actual:
        errors.append(f"OPTM differs from the oracle: {only_expected} missing, {only_actual} extra")
    n, n_keys = con.execute(f"SELECT count(*), count(DISTINCT (OPT_ID, T)) FROM {m}").fetchone()
    if n != n_keys:
        errors.append(f"OPTM has {n - n_keys} duplicate (OPT_ID, T) keys")
    contracts = f"SELECT DISTINCT Strike, CP, Expiry FROM ({expected})"
    opt_keys = f"SELECT Strike, CP, Expiry FROM {o}"
    n_opt, n_opt_ids = con.execute(f"SELECT count(*), count(DISTINCT OPT_ID) FROM {o}").fetchone()
    if n_opt != n_opt_ids:
        errors.append("OPT_ID is not unique")
    missing = con.execute(f"SELECT count(*) FROM (({contracts}) EXCEPT ({opt_keys}))").fetchone()[0]
    if missing:
        errors.append(f"OPT lacks {missing} contracts that have session marks")
    bad_t = con.execute(
        f"SELECT count(*) FROM {m} WHERE NOT {_on_days(days)} OR CAST(T AS TIME) < TIME '06:30:00' OR CAST(T AS TIME) >= TIME '13:00:01'"
    ).fetchone()[0]
    if bad_t:
        errors.append(f"{bad_t} OPTM rows have T outside 06:30-13:00 on the generated dates")
    con.unregister("gen_ticks")
    return errors


def _on_days(days: list[dt.date]) -> str:
    # list_contains, not IN: DuckDB 1.0 drops every row when an IN list is
    # pushed through a join
    return "list_contains([" + ", ".join(f"DATE '{d}'" for d in days) + "], CAST(T AS DATE))"


def gold_rows(vert, vert_ts, days: list[dt.date]) -> str:
    """VERT_TS on natural keys (SS, CP, Expiry, T) for ``days``."""
    return (
        f"SELECT SS, CP, Expiry, T, ts.O, ts.AVG_R FROM {scan(vert_ts)} ts "
        f"JOIN {scan(vert)} v USING (VID) WHERE {_on_days(days)}"
    )


def mismatch_count(con, a: str, b: str) -> int:
    """Natural keys (SS, CP, Expiry, T) present on one side only, plus keys
    on both sides whose (O, AVG_R) differ. ``a``/``b`` are SQL relations with
    columns SS, CP, Expiry, T, O, AVG_R, unique on the key."""
    return con.execute(
        f"""
        SELECT count(*) FROM
            (SELECT *, 1 AS in_a FROM ({a})) x
            FULL OUTER JOIN (SELECT *, 1 AS in_b FROM ({b})) y
            USING (SS, CP, Expiry, T)
        WHERE x.in_a IS NULL OR y.in_b IS NULL
           OR x.O IS DISTINCT FROM y.O OR x.AVG_R IS DISTINCT FROM y.AVG_R
        """
    ).fetchone()[0]


def key_duplicates(con, rel: str) -> int:
    return con.execute(
        f"SELECT count(*) - count(DISTINCT (SS, CP, Expiry, T)) FROM ({rel})"
    ).fetchone()[0]


def _rows(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def check_read(con, kind: str, params: dict, rows, wh, bronze) -> list[str]:
    """Compare one gold_reads query result with DuckDB over the same files."""
    day = params["day"]
    got = _rows(rows)
    if kind == "spread_series":
        want = con.execute(
            f"SELECT T, O, AVG_R FROM {scan(wh.vert_ts)} WHERE VID = ? "
            "AND CAST(T AS DATE) = ? ORDER BY T",
            [params["vid"], day],
        ).fetchall()
    elif kind == "latest_spreads":
        want = con.execute(
            f"""SELECT VID, SS, CP, T, O, AVG_R FROM (
                    SELECT VID, max(T) AS T, arg_max(O, T) AS O, arg_max(AVG_R, T) AS AVG_R
                    FROM {scan(wh.vert_ts)} WHERE CAST(T AS DATE) = ? GROUP BY VID) x
                JOIN {scan(wh.vert)} v USING (VID)""",
            [day],
        ).fetchall()
        got, want = sorted(got), sorted(want)
    elif kind == "chain_at":
        want = con.execute(
            f"""SELECT Strike, CP, Expiry, T, O FROM (
                    SELECT OPT_ID, max(T) AS T, arg_max(O, T) AS O FROM {scan(wh.optm)}
                    WHERE T >= CAST(? AS TIMESTAMP) AND T <= ? GROUP BY OPT_ID) x
                JOIN {scan(wh.opt)} o USING (OPT_ID)""",
            [day, params["at"]],
        ).fetchall()
        got, want = sorted(got), sorted(want)
    elif kind == "candles":
        return _check_candles(con, params["symbol"], got, bronze.duck(day))
    elif kind == "latest_quotes":
        return _check_latest(con, got, bronze.duck(day))
    else:
        raise ValueError(kind)
    if got != want:
        return [f"{kind}{params}: {len(got)} rows differ from DuckDB's {len(want)}"]
    return []


def _check_candles(con, symbol: str, got: list[tuple], src: str) -> list[str]:
    """H, L, V and the window set exactly; O and C may be any mark tied at
    the window's first/last quote time (duplicate quote times are in the
    data, so min_by/max_by may pick either)."""
    want = con.execute(
        f"""WITH t AS (SELECT "37" AS mark, "38" AS qt, "38" // 60000 * 60000 AS w
                       FROM {src} WHERE symbol = ? AND "37" IS NOT NULL),
            f AS (SELECT w, min(qt) AS fq, max(qt) AS lq, max(mark) AS H, min(mark) AS L,
                         count(*) AS V FROM t GROUP BY w)
            SELECT f.w, f.H, f.L, f.V,
                   min(t.mark) FILTER (WHERE t.qt = f.fq), max(t.mark) FILTER (WHERE t.qt = f.fq),
                   min(t.mark) FILTER (WHERE t.qt = f.lq), max(t.mark) FILTER (WHERE t.qt = f.lq)
            FROM f JOIN t USING (w) GROUP BY f.w, f.H, f.L, f.V ORDER BY f.w""",
        [symbol],
    ).fetchall()
    got = sorted(got, key=lambda r: r[1])
    if [(r[1], r[3], r[4], r[6]) for r in got] != [w[:4] for w in want]:
        return [f"candles({symbol}): windows/H/L/V differ from DuckDB"]
    if any(r[0] != symbol for r in got):
        return [f"candles({symbol}): wrong symbol in result"]
    bad = sum(
        not (w[4] <= r[2] <= w[5] and w[6] <= r[5] <= w[7]) for r, w in zip(got, want)
    )
    return [f"candles({symbol}): {bad} windows with O/C off the tied marks"] if bad else []


def _check_latest(con, got: list[tuple], src: str) -> list[str]:
    """Same (symbol, received_at) set as DuckDB's latest-per-symbol with the
    600 s TTL, and each returned row is a Bronze row at that key."""
    want = con.execute(
        f"""WITH m AS (SELECT symbol, max(received_at) AS r FROM {src} GROUP BY symbol)
            SELECT symbol, r FROM m WHERE (SELECT max(r) FROM m) - r <= 600 * 1000
            ORDER BY symbol"""
    ).fetchall()
    if sorted((r[0], r[1]) for r in got) != want:
        return ["latest_quotes: (symbol, received_at) set differs from DuckDB"]
    con.register("got_rows", pa.table({
        "symbol": [r[0] for r in got], "received_at": [r[1] for r in got],
        "m37": pa.array([r[2] for r in got], pa.float64()),
        "m38": pa.array([r[3] for r in got], pa.int64()),
        "m3": pa.array([r[4] for r in got], pa.float64()),
        "m35": pa.array([r[5] for r in got], pa.int64()),
    }))
    unmatched = con.execute(
        f"""SELECT count(*) FROM got_rows g WHERE NOT EXISTS (
                SELECT 1 FROM {src} b WHERE b.symbol = g.symbol AND b.received_at = g.received_at
                AND b."37" IS NOT DISTINCT FROM g.m37 AND b."38" IS NOT DISTINCT FROM g.m38
                AND b."3" IS NOT DISTINCT FROM g.m3 AND b."35" IS NOT DISTINCT FROM g.m35)"""
    ).fetchone()[0]
    con.unregister("got_rows")
    return [f"latest_quotes: {unmatched} rows not found in Bronze"] if unmatched else []
