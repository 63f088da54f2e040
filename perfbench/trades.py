"""Seeded FinnhubTrade batches for the ingest workloads, and the sink
aggregates they must produce.

Symbols are Zipf-skewed over 100 names, ``tradeTime`` spreads uniformly
over three UTC days, and each trade carries 0-4 ``tradeConditions``.
Prices are multiples of 1/64 and volumes are whole numbers, so every sum
the output check compares is exact in float64 whatever order the engine
adds the rows in.
"""

from __future__ import annotations

import datetime as dt
import struct
import zlib

import numpy as np

MESSAGE = "bristle.examples.finnhub.FinnhubTrade"
SYMBOLS = [f"SYM{i:03d}" for i in range(100)]
CONDITIONS = ["1", "2", "4", "7", "12", "@", "F", "T", "I", "W"]
FIRST_DAY = dt.date(2024, 3, 4)
N_DAYS = 3
_DAY_MS = 86_400_000
FIRST_MS = int(dt.datetime(2024, 3, 4, tzinfo=dt.timezone.utc).timestamp() * 1000)


def _varint(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _string(tag: int, s: str) -> bytes:
    raw = s.encode()
    return bytes((tag, len(raw))) + raw  # every string here is under 128 bytes


_PACK_D = struct.Struct("<d").pack


def encode(symbol: str, price: float, t_ms: int, volume: float, conds: list[str]) -> bytes:
    """One FinnhubTrade in protobuf wire format, fields in number order.
    Written here rather than with the program's encoder so the inputs do
    not depend on the code under test; the smoke test pins it to
    ``wire.encode_message``. No field is ever zero, so none is elided."""
    return b"".join(
        [_string(0x0A, symbol), b"\x11", _PACK_D(price), b"\x18", _varint(t_ms),
         b"\x21", _PACK_D(volume)] + [_string(0x2A, c) for c in conds]
    )


def make_batches(seed: int, n_batches: int, rows: int) -> list[list[tuple]]:
    """``n_batches`` lists of ``rows`` trades, each a
    ``(symbol, price, t_ms, volume, conditions)`` tuple."""
    rng = np.random.default_rng(seed)
    n = n_batches * rows
    zipf = 1.0 / np.arange(1, len(SYMBOLS) + 1) ** 1.1
    sym = rng.choice(len(SYMBOLS), n, p=zipf / zipf.sum())
    base = 20.0 + 2.0 * sym  # each symbol trades around its own level
    price = np.round((base + rng.normal(0.0, 1.0, n) ** 2) * 64) / 64
    t_ms = FIRST_MS + rng.integers(0, N_DAYS * _DAY_MS, n)
    volume = rng.integers(1, 1001, n).astype(np.float64)
    n_cond = rng.integers(0, 5, n)
    cond = rng.integers(0, len(CONDITIONS), (n, 4))
    trades = [
        (SYMBOLS[s], p, t, v, [CONDITIONS[c] for c in cs[:k]])
        for s, p, t, v, cs, k in zip(sym.tolist(), price.tolist(), t_ms.tolist(),
                                     volume.tolist(), cond.tolist(), n_cond.tolist())
    ]
    return [trades[b * rows : (b + 1) * rows] for b in range(n_batches)]


def batch_key(data: bytes) -> str:
    """The identifier a batch's spans share: a checksum of the framed
    bodies, which is exactly the ``data`` field the server receives."""
    return f"{zlib.crc32(data):08x}"


def aggregates(trades: list[tuple]) -> dict:
    """What the sink must hold for ``trades``: per-symbol row count,
    price sum and volume sum, the total number of trade conditions, and
    the set of ``_day`` partitions."""
    per: dict[str, list[float]] = {}
    n_cond = 0
    days: set[str] = set()
    for symbol, price, t_ms, volume, conds in trades:
        acc = per.setdefault(symbol, [0, 0.0, 0.0])
        acc[0] += 1
        acc[1] += price
        acc[2] += volume
        n_cond += len(conds)
        days.add((FIRST_DAY + dt.timedelta(days=(t_ms - FIRST_MS) // _DAY_MS)).isoformat())
    return {
        "rows": sum(a[0] for a in per.values()),
        "per_symbol": {s: a for s, a in sorted(per.items())},
        "conditions": n_cond,
        "days": sorted(days),
    }
