"""Seeded LEVELONE-style tick generator for the market-ELT benchmark.

Every value of a tick is a pure function of ``(seed, day, minute, slot)`` —
its absolute index in the day — through a counter-based hash, so the output
does not depend on how a day is cut: generating minutes [0, 410) in one call
or in any number of chunks gives the same rows in the same order. A naive
generator that draws per chunk (or keys its randomness on a per-batch
``range`` id) gives different marks when the same day is sliced differently,
which would make streamed and one-shot results incomparable.

One day is a grid of :data:`GRID_MINUTES` wall-clock minutes from 06:20 to
13:10 US/Pacific, i.e. ten pre-session and ten post-session minutes around
the 06:30-13:00 session that Silver keeps. Each minute holds, per contract,
``ticks_per_contract_minute`` option ticks (fields 37/38), plus
:data:`UND_PER_MINUTE` ``$SPX`` ticks (fields 3/35). On top of a smooth
mark model it injects:

* duplicate (symbol, quote-time) pairs with a different mark — Silver keeps
  the MAX;
* null marks — Silver drops them;
* spikes (mark x4) — Gold's outlier flag removes them;
* late delivery: a few percent of ticks carry a ``received_at`` one
  micro-batch after their quote time, so the stream sees them one batch late.

All dates are June/July weekdays, so US/Pacific is UTC-7 throughout.
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import numpy as np
import pyarrow as pa

GRID_START = dt.time(6, 20)
GRID_MINUTES = 410  # 06:20 .. 13:09 inclusive
UND_PER_MINUTE = 6
PACIFIC_OFFSET_MS = -7 * 3_600_000
STRIKE_STEP = 5

# hash streams: one independent draw per purpose
_S_PATH, _S_NOISE, _S_DUP, _S_NULL, _S_SPIKE, _S_LATE, _S_JIT, _S_UND, _S_BASE = range(9)


@dataclasses.dataclass(frozen=True)
class ChainSpec:
    """Shape of one workload's market data."""

    strikes: int  # strikes in the chain; each is a call and a put
    ticks_per_contract_minute: int
    days: tuple[dt.date, ...]
    dte: int = 0  # expiry = day + dte (0DTE by default)
    batch_minutes: int = 10  # late ticks arrive this much after quote time
    dup_frac: float = 0.05
    null_frac: float = 0.01
    spike_frac: float = 0.002
    late_frac: float = 0.03

    @property
    def contracts(self) -> int:
        return 2 * self.strikes

    @property
    def slots_per_minute(self) -> int:
        return self.contracts * self.ticks_per_contract_minute + UND_PER_MINUTE


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x ^ (x >> np.uint64(30))
        x = x * np.uint64(0xBF58476D1CE4E5B9)
        x = x ^ (x >> np.uint64(27))
        x = x * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def uniform(seed: int, day: int, stream: int, index: np.ndarray) -> np.ndarray:
    """U[0,1) draws keyed on an absolute index — the slicing-invariant core."""
    key = _mix(np.array([((seed & 0xFFFFFFFF) * 0x9E3779B97F4A7C15 + day * 16 + stream)
                         & 0xFFFFFFFFFFFFFFFF], np.uint64))[0]
    with np.errstate(over="ignore"):
        h = _mix(index.astype(np.uint64) * np.uint64(0xD1B54A32D192ED03) + key)
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _normal(seed: int, day: int, stream: int, index: np.ndarray) -> np.ndarray:
    u1 = uniform(seed, day, stream, 2 * index)
    u2 = uniform(seed, day, stream, 2 * index + 1)
    return np.sqrt(-2.0 * np.log1p(-u1)) * np.cos(2 * np.pi * u2)


def spx_path(seed: int, day: int) -> np.ndarray:
    """Per-minute $SPX level over the whole grid (a seeded random walk)."""
    base = 5400.0 + 200.0 * uniform(seed, day, _S_BASE, np.zeros(1, np.int64))[0]
    steps = 1.2 * _normal(seed, day, _S_PATH, np.arange(GRID_MINUTES))
    return base + np.cumsum(steps)


def chain(spec: ChainSpec, seed: int, day: int) -> tuple[np.ndarray, np.ndarray]:
    """(strike, cp) per contract index: strikes centred on the opening level;
    contract c is a call for even c, a put for odd c."""
    atm = int(round(spx_path(seed, day)[0] / STRIKE_STEP)) * STRIKE_STEP
    k = atm + STRIKE_STEP * (np.arange(spec.strikes) - spec.strikes // 2)
    strikes = np.repeat(k, 2)
    cp = np.tile(np.array([1, -1]), spec.strikes)
    return strikes, cp


def _day_epoch_ms(date: dt.date) -> int:
    wall = dt.datetime.combine(date, GRID_START, tzinfo=dt.timezone.utc)
    return int(wall.timestamp() * 1000) - PACIFIC_OFFSET_MS


def generate(
    spec: ChainSpec, seed: int, day: int, minute_lo: int = 0, minute_hi: int = GRID_MINUTES
) -> pa.Table:
    """Ticks quoted in grid minutes [minute_lo, minute_hi) of ``spec.days[day]``,
    in absolute-index order, as a table with the ``QUOTES_STREAM`` columns."""
    minute_lo, minute_hi = max(0, minute_lo), min(GRID_MINUTES, minute_hi)
    spm = spec.slots_per_minute
    n_opt = spec.contracts * spec.ticks_per_contract_minute
    idx = np.arange(minute_lo * spm, minute_hi * spm, dtype=np.int64)
    minute = idx // spm
    slot = idx % spm
    is_und = slot >= n_opt
    t0 = _day_epoch_ms(spec.days[day]) + minute * 60_000

    path = spx_path(seed, day)
    und_level = path[minute]

    # -- options: slot = k * contracts + contract
    tpcm = spec.ticks_per_contract_minute
    spacing = 60_000 // tpcm
    k = np.where(is_und, 0, slot // spec.contracts)
    contract = np.where(is_und, 0, slot % spec.contracts)
    jitter = (uniform(seed, day, _S_JIT, idx) * (spacing // 2)).astype(np.int64)
    quote_ms = t0 + k * spacing + jitter
    # a duplicate repeats the previous tick's quote time for the same contract
    dup = (k > 0) & (uniform(seed, day, _S_DUP, idx) < spec.dup_frac) & ~is_und
    prev_idx = idx - spec.contracts
    prev_jitter = (uniform(seed, day, _S_JIT, prev_idx) * (spacing // 2)).astype(np.int64)
    quote_ms = np.where(dup, t0 + (k - 1) * spacing + prev_jitter, quote_ms)

    strikes, cp = chain(spec, seed, day)
    strike, sign = strikes[contract], cp[contract]
    s_now = und_level + 0.3 * (quote_ms - t0) / 60_000.0
    tau = np.clip((GRID_MINUTES - 10 - minute) / 390.0, 0.02, 1.0)
    intrinsic = np.maximum(sign * (s_now - strike), 0.0)
    time_value = 9.0 * np.sqrt(tau) * np.exp(-0.5 * ((s_now - strike) / 30.0) ** 2) + 0.1
    noise = 0.15 * _normal(seed, day, _S_NOISE, idx)
    mark = np.maximum(intrinsic + time_value + noise, 0.05)
    spike = uniform(seed, day, _S_SPIKE, idx) < spec.spike_frac
    mark = np.where(spike, mark * 4.0, mark)
    mark = np.round(mark * 20.0) / 20.0
    null_mark = (uniform(seed, day, _S_NULL, idx) < spec.null_frac) & ~is_und

    # -- underlying: slot - n_opt = 0..5, one trade every 10 s
    u = slot - n_opt
    trade_ms = t0 + u * 10_000 + (uniform(seed, day, _S_JIT, idx) * 5_000).astype(np.int64)
    last = np.round(und_level + 0.3 * u / UND_PER_MINUTE + 0.2 * _normal(seed, day, _S_UND, idx), 2)

    event_ms = np.where(is_und, trade_ms, quote_ms)
    late = uniform(seed, day, _S_LATE, idx) < spec.late_frac
    received = event_ms + 20 + k + np.where(late, spec.batch_minutes * 60_000, 0)

    expiry = spec.days[day] + dt.timedelta(days=spec.dte)
    contract_syms = pa.array(
        [
            f"SPXW  {expiry:%y%m%d}{'C' if c > 0 else 'P'}{int(s) * 1000:08d}"
            for s, c in zip(strikes, cp)
        ]
        + ["$SPX"]
    )
    sym_index = np.where(is_und, spec.contracts, contract)
    opt = ~is_und
    return pa.table(
        {
            "received_at": pa.array(received, pa.int64()),
            "symbol": contract_syms.take(pa.array(sym_index)),
            "37": pa.array(mark, pa.float64(), mask=~opt | null_mark),
            "38": pa.array(quote_ms, pa.int64(), mask=~opt),
            "3": pa.array(last, pa.float64(), mask=opt),
            "35": pa.array(trade_ms, pa.int64(), mask=opt),
        }
    )


def session_minute(hh: int, mm: int) -> int:
    """Grid minute index of wall-clock HH:MM."""
    return (hh * 60 + mm) - (GRID_START.hour * 60 + GRID_START.minute)


def batch_bounds(spec: ChainSpec, day: int, batch_minutes: int) -> list[tuple[int, int]]:
    """``received_at`` windows [lo, hi) of a day's micro-batches: the first
    catches everything before 06:30 + one batch, the last everything after
    its start (including post-session and late ticks)."""
    start = _day_epoch_ms(spec.days[day]) + session_minute(6, 30) * 60_000
    n = -(-390 // batch_minutes)
    edges = [start + i * batch_minutes * 60_000 for i in range(1, n)]
    lo = [-(1 << 62)] + edges
    hi = edges + [1 << 62]
    return list(zip(lo, hi))


def micro_batches(
    spec: ChainSpec, seed: int, day: int, batch_minutes: int | None = None
) -> list[pa.Table]:
    """A day's ticks cut into delivery-order micro-batches by ``received_at``
    (late ticks land one batch after their quote time)."""
    table = generate(spec, seed, day)
    recv = table.column("received_at").to_numpy()
    out = []
    for lo, hi in batch_bounds(spec, day, batch_minutes or spec.batch_minutes):
        out.append(table.filter(pa.array((recv >= lo) & (recv < hi))))
    return out
