"""Natural-key mismatch count on hand-built Gold tables."""

import datetime as dt
from decimal import Decimal

import pyarrow as pa

from perfbench import oracle


def _gold(rows):
    ss, cp, t, o, avg = zip(*rows)
    return pa.table({
        "SS": pa.array(ss, pa.int32()),
        "CP": pa.array(cp, pa.int16()),
        "Expiry": pa.array([dt.date(2024, 6, 17)] * len(rows)),
        "T": pa.array([dt.datetime(2024, 6, 17, 6, 30 + m) for m in t], pa.timestamp("us")),
        "O": pa.array([None if v is None else Decimal(v) for v in o], pa.decimal128(9, 2)),
        "AVG_R": pa.array([None if v is None else Decimal(v) for v in avg], pa.decimal128(9, 2)),
    })


def test_mismatch_counts_one_sided_keys_and_value_differences():
    con = oracle.connect()
    con.register("a", _gold([
        (5500, 1, 0, "1.00", "1.00"),   # same on both sides
        (5500, 1, 1, "1.10", "1.05"),   # O differs
        (5500, -1, 0, "2.00", None),    # NULL vs NULL: equal
        (5505, 1, 0, "0.50", "0.50"),   # only in a
        (5510, 1, 0, "0.40", None),     # AVG_R NULL vs value
    ]))
    con.register("b", _gold([
        (5500, 1, 0, "1.00", "1.00"),
        (5500, 1, 1, "1.20", "1.05"),
        (5500, -1, 0, "2.00", None),
        (5510, 1, 0, "0.40", "0.40"),
        (5505, -1, 0, "0.50", "0.50"),  # only in b (CP differs)
        (5500, 1, 2, "1.00", "1.00"),   # only in b (T differs)
    ]))
    assert oracle.mismatch_count(con, "SELECT * FROM a", "SELECT * FROM b") == 5
    assert oracle.mismatch_count(con, "SELECT * FROM b", "SELECT * FROM a") == 5
    assert oracle.mismatch_count(con, "SELECT * FROM a", "SELECT * FROM a") == 0


def test_key_duplicates():
    con = oracle.connect()
    con.register("d", _gold([(5500, 1, 0, "1.00", None), (5500, 1, 0, "1.10", None)]))
    assert oracle.key_duplicates(con, "SELECT * FROM d") == 1
