"""Seeded OANDA-style tick captures.

``TickSource`` yields NDJSON lines from a seed and a clock.
Each price tick's ``time`` is the clock reading when the line was made, at
ns precision, and its first bid level carries the line's sequence number in
``liquidity`` so every published frame maps back to exactly one line.  Per
100 lines the mix holds one heartbeat, one blank keep-alive, one valid JSON
line of an unknown ``type``, one price tick missing required fields (routed
to Unknown) and one malformed line; the rest are price ticks over four
instruments.  The same seed and clock give byte-identical lines.

``write_capture`` writes a seeded capture on a synthetic clock (one line
per µs), under a hidden name renamed into place.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections.abc import Callable, Iterator

INSTRUMENTS = ("EUR_USD", "USD_JPY", "GBP_USD", "AUD_USD")
BASE_PRICE = {"EUR_USD": 1.09, "USD_JPY": 157.3, "GBP_USD": 1.27, "AUD_USD": 0.66}
SEQ_LIQUIDITY = 1_000_000  # bids[0].liquidity = SEQ_LIQUIDITY + sequence number


def rfc3339_ns(ns: int) -> str:
    sec, frac = divmod(ns, 1_000_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + f".{frac:09d}Z"


class TickSource:
    """Deterministic line stream: content from ``seed``, stamps from ``clock``."""

    def __init__(self, seed: int, clock: Callable[[], int]):
        self._rng = random.Random(seed)
        self._clock = clock
        self._mid = dict(BASE_PRICE)
        self.seq = 0
        self.counts = {"price_tick": 0, "heartbeat": 0, "blank": 0,
                       "unknown": 0, "malformed": 0}

    def _price_tick(self, ns: int) -> str:
        rng = self._rng
        inst = INSTRUMENTS[rng.randrange(len(INSTRUMENTS))]
        mid = self._mid[inst] * (1.0 + rng.uniform(-2e-5, 2e-5))
        self._mid[inst] = mid
        digits = 3 if inst == "USD_JPY" else 5
        half = self._mid[inst] * rng.uniform(2e-5, 8e-5)
        bid, ask = f"{mid - half:.{digits}f}", f"{mid + half:.{digits}f}"
        liq = 500_000 * (1 + rng.randrange(4))
        return json.dumps({
            "type": "PRICE", "time": rfc3339_ns(ns), "instrument": inst,
            "status": "tradeable", "closeoutBid": bid, "closeoutAsk": ask,
            "bids": [{"price": bid, "liquidity": SEQ_LIQUIDITY + self.seq},
                     {"price": f"{float(bid) - half:.{digits}f}", "liquidity": liq}],
            "asks": [{"price": ask, "liquidity": liq}],
        }, separators=(",", ":"))

    def line(self) -> str:
        """The next line (without newline); advances the sequence."""
        slot = self.seq % 100
        ns = self._clock()
        if slot == 99:
            kind, text = "heartbeat", json.dumps(
                {"type": "HEARTBEAT", "time": rfc3339_ns(ns)}, separators=(",", ":"))
        elif slot == 24:
            kind, text = "blank", "   "
        elif slot == 49:
            kind, text = "unknown", json.dumps(
                {"type": "CLIENT_CONFIG", "sequence": self.seq}, separators=(",", ":"))
        elif slot == 74:
            # has an instrument but lacks required fields: demoted to Unknown
            kind, text = "unknown", json.dumps(
                {"type": "PRICE", "instrument": INSTRUMENTS[0], "time": rfc3339_ns(ns)},
                separators=(",", ":"))
        elif slot == 87:
            kind, text = "malformed", '{"type":"PRICE","instrument":'
        else:
            kind, text = "price_tick", self._price_tick(ns)
        self.counts[kind] += 1
        self.seq += 1
        return text

    def lines(self, n: int) -> Iterator[str]:
        for _ in range(n):
            yield self.line()


def write_atomic(path: str, text: str) -> None:
    """Write under a hidden name, then rename: readers never see a torn file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def write_capture(path: str, seed: int, n: int, start_ns: int) -> dict:
    """A pre-written capture of ``n`` lines on a synthetic clock (1 µs apart)."""
    stamps = iter(range(start_ns, start_ns + 1000 * n, 1000))
    src = TickSource(seed, clock=lambda: next(stamps))
    write_atomic(path, "\n".join(src.lines(n)) + "\n")
    return dict(src.counts)
