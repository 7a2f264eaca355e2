"""The tick generator: slicing invariance and the injected data shapes."""

import datetime as dt

import numpy as np
import pyarrow as pa
import pytest

from perfbench import ticks

SPEC = ticks.ChainSpec(
    strikes=6, ticks_per_contract_minute=3, days=(dt.date(2024, 6, 17), dt.date(2024, 6, 18))
)


def _pacific_seconds(ms):
    return ((np.asarray(ms) + ticks.PACIFIC_OFFSET_MS) // 1000) % 86400


@pytest.mark.parametrize("cuts", [[205], [1, 2, 3, 100, 409], list(range(0, 410, 7)), [37, 38, 390]])
def test_generate_is_invariant_to_slicing(cuts):
    whole = ticks.generate(SPEC, 11, 1)
    edges = [0, *cuts, ticks.GRID_MINUTES]
    parts = [ticks.generate(SPEC, 11, 1, lo, hi) for lo, hi in zip(edges, edges[1:])]
    assert pa.concat_tables(parts).equals(whole)


def test_micro_batches_partition_the_day_and_deliver_late_ticks_one_batch_late():
    whole = ticks.generate(SPEC, 11, 0)
    batches = ticks.micro_batches(SPEC, 11, 0)
    assert sum(b.num_rows for b in batches) == whole.num_rows
    joined = pa.concat_tables(batches)
    key = ["received_at", "symbol"]
    assert sorted(zip(*(joined.column(k).to_pylist() for k in key))) == sorted(
        zip(*(whole.column(k).to_pylist() for k in key))
    )
    # a late option tick lands in a later batch than its quote time's batch
    bounds = ticks.batch_bounds(SPEC, 0, SPEC.batch_minutes)

    def batch_of(ms):
        return next(i for i, (lo, hi) in enumerate(bounds) if lo <= ms < hi)

    recv = whole.column("received_at").to_numpy()
    qt = whole.column("38").to_numpy(zero_copy_only=False)
    late = [(r, q) for r, q in zip(recv, qt) if q == q and r - q > 60_000]
    assert late
    # (the first batch also holds the pre-session minutes, and the last
    # takes everything delivered after its start)
    inner = [(r, q) for r, q in late if 0 < batch_of(int(q)) < len(bounds) - 1]
    assert inner
    assert all(batch_of(r) == batch_of(int(q)) + 1 for r, q in inner)


def test_seed_decides_the_data():
    a, b = ticks.generate(SPEC, 1, 0, 0, 30), ticks.generate(SPEC, 2, 0, 0, 30)
    assert a.equals(ticks.generate(SPEC, 1, 0, 0, 30))
    assert not a.column("37").equals(b.column("37"))


def test_injected_shapes_are_present():
    t = ticks.generate(SPEC, 5, 0)
    sym = np.array(t.column("symbol").to_pylist(), dtype=object)
    opt = sym != "$SPX"
    qt = t.column("38").to_numpy(zero_copy_only=False)
    mark = t.column("37").to_numpy(zero_copy_only=False)
    assert (~opt).sum() == ticks.UND_PER_MINUTE * ticks.GRID_MINUTES
    # duplicate (symbol, quote-time) pairs
    pairs = list(zip(sym[opt], qt[opt]))
    assert len(set(pairs)) < len(pairs)
    # null marks on option ticks
    assert np.isnan(mark[opt]).any()
    # pre- and post-session quote times
    sod = _pacific_seconds(qt[opt])
    assert (sod < 6 * 3600 + 30 * 60).any() and (sod > 13 * 3600).any()
    # spikes: some marks far above the same contract's typical mark
    recv = t.column("received_at").to_numpy()
    assert ((recv - qt)[opt] > 60_000).any()  # late deliveries
    first = sym[opt][0]
    m = mark[opt][(sym[opt] == first) & ~np.isnan(mark[opt])]
    assert m.max() > 2 * np.median(m) or any(
        (lambda x: x.max() > 2.5 * np.median(x))(mark[opt][(sym[opt] == s) & ~np.isnan(mark[opt])])
        for s in set(sym[opt])
    )


def test_symbols_follow_the_occ_layout_and_expiry_is_the_day():
    t = ticks.generate(SPEC, 5, 1, 0, 1)
    syms = [s for s in t.column("symbol").to_pylist() if s != "$SPX"]
    assert all(len(s) == 21 and s.startswith("SPXW  240618") and s[12] in "CP" for s in syms)
    assert len(set(syms)) == SPEC.contracts
