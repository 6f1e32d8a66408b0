#!/usr/bin/env python3
"""Seeded trade generator for the lakehouse benchmark.

Writes the producer's wire format (one JSON payload per line, the shape of
the Kraken websocket producer) into a landing directory, atomically: each
file is written under a hidden name and renamed into place, so a file
stream source never sees a partial file. Alongside the trades it computes
the 1-minute OHLCV + VWAP bars the pipeline must produce, independently of
the program.

Two modes:

  history  a fixed-epoch history, all files landed at once (backfill and
           its single-core baseline). Same seed, same bytes.
  live     an open loop: one file per interval on a fixed schedule that
           does not slow when the consumer does; trades are stamped with
           their creation time (ts_event = ts_ingest). Reports how late
           each file was written against its schedule.

Inputs that shape the pipeline's work:
  * symbols drawn on a Zipf curve over Kraken-style pairs (with '/' and
    '-' in names), so the XBT and ETH pairs are hot;
  * per-symbol random-walk prices, lognormal trade notionals;
  * a few percent of trades stamped up to 60 s in the past (out of
    order, inside the 2-minute watermark, so none is dropped as late);
  * at-least-once duplicates re-sent a few trades later;
  * malformed lines (truncated JSON, non-JSON text, non-trade JSON);
  * history mode ends with one watermark-flush sentinel row so append
    mode emits the last bars.

Usage:
  gen.py history --seed N --trades N --out DIR --expected CSV --report JSON
  gen.py live --seed N --t0-ms T --duration-s S --out DIR --expected CSV
              --report JSON
"""
import argparse
import json
import math
import os
import random
import sys
import time
from decimal import Decimal

SENTINEL = "ZZ_WM_FLUSH"  # graft.streaming.Pipeline.SentinelSymbol
HISTORY_T0_MS = 1717977600000  # 2024-06-10T00:00:00Z
BAR_MS = 60_000
MAX_NOTIONAL = 20_000.0
LATE_SHARE = 0.03
LATE_MAX_MS = 60_000
DUP_SHARE = 0.01
BAD_SHARE = 0.005
ZIPF_S = 1.1
HISTORY_SPAN_S = 3600      # event time a history covers
HISTORY_PER_FILE = 20_000  # lines per landing file of a history
LIVE_RATE = 2000.0         # trades/s of the live schedule
LIVE_INTERVAL_MS = 250     # one landing file per interval

# (pair, start price, price decimals). Decimals stay <= 4 and notionals
# <= MAX_NOTIONAL so price*size has at most 10 decimals and the program's
# decimal(28,10) notional sum is exact (see Bars).
PAIRS = [
    ("XBT/USD", 64000.0, 1), ("ETH/USD", 3400.0, 2), ("XBT/EUR", 59500.0, 1),
    ("SOL/USD", 145.0, 2), ("ETH/EUR", 3150.0, 2), ("XBT/USDT", 64010.0, 1),
    ("XRP/USD", 0.52, 4), ("ETH/XBT", 0.0531, 4), ("DOGE/USD", 0.1234, 4),
    ("ADA/USD", 0.45, 4), ("XBT-PERP", 64050.0, 1), ("ETH-PERP", 3402.0, 2),
    ("LTC/USD", 82.0, 2), ("DOT/USD", 7.1, 3), ("LINK/USD", 16.5, 3),
    ("AVAX/USD", 34.0, 2), ("ATOM/USD", 8.9, 3), ("MATIC/USD", 0.71, 4),
    ("BCH/USD", 470.0, 2), ("XLM/USD", 0.11, 4), ("UNI/USD", 9.8, 3),
    ("SOL-PERP", 145.2, 2), ("USDT/USD", 1.0002, 4), ("USDC/USD", 0.9999, 4),
    ("XMR/USD", 165.0, 2), ("ALGO/USD", 0.18, 4), ("FIL/USD", 5.9, 3),
    ("AAVE/USD", 92.0, 2), ("NEAR/USD", 6.8, 3), ("TRX/USD", 0.12, 4),
    ("EOS/USD", 0.79, 4), ("ETC/USD", 27.0, 2),
]


class Bars:
    """Expected gold bars, computed the way the pipeline defines them.

    Dedup on (symbol, event_time, price, size, side); 1-minute tumbling
    windows; open/close are the struct-min/struct-max of (event_time,
    price), so a tie on event time opens at the lower price and closes at
    the higher; volume and notional are exact decimal sums (size at scale
    6, price*size at scale 10), cast to double at the end.
    """

    def __init__(self):
        self.bars = {}
        self.seen = set()

    def add(self, symbol, ts_ms, price, price_s, size, size_s, side):
        key = (symbol, ts_ms, price, size, side)
        if key in self.seen:
            return False
        self.seen.add(key)
        start = ts_ms - ts_ms % BAR_MS
        vol = Decimal(size_s)
        notional = Decimal(price_s) * vol
        b = self.bars.get((symbol, start))
        if b is None:
            self.bars[(symbol, start)] = [ts_ms, price, ts_ms, price, price,
                                          price, vol, notional, 1]
            return True
        if (ts_ms, price) < (b[0], b[1]):
            b[0], b[1] = ts_ms, price
        if (ts_ms, price) > (b[2], b[3]):
            b[2], b[3] = ts_ms, price
        if price > b[4]:
            b[4] = price
        if price < b[5]:
            b[5] = price
        b[6] += vol
        b[7] += notional
        b[8] += 1
        return True

    def rows(self):
        """(symbol, bar_start_ms, open, high, low, close, volume, vwap, trades)."""
        for (symbol, start), b in sorted(self.bars.items()):
            volume = float(b[6])
            yield (symbol, start, b[1], b[4], b[5], b[3], volume,
                   float(b[7]) / volume, b[8])

    def write_csv(self, path):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for r in self.rows():
                f.write(",".join([r[0], str(r[1])] + [repr(x) for x in r[2:8]]
                                 + [str(r[8])]) + "\n")
        os.replace(tmp, path)


def zipf_cum_weights(n):
    acc, out = 0.0, []
    for i in range(n):
        acc += 1.0 / (i + 1) ** ZIPF_S
        out.append(acc)
    return out


class TradeMaker:
    """Seeded trade stream: one call per scheduled trade."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.pairs = PAIRS
        self.cum = zipf_cum_weights(len(self.pairs))
        self.price = [p for _, p, _ in self.pairs]
        self.recent = []
        self.bars = Bars()
        self.stats = {"trades": 0, "duplicates": 0, "malformed": 0,
                      "late_shifted": 0, "valid_trades": 0, "lines": 0}
        self.max_event_ms = 0

    def _walk(self, i):
        _, _, dec = self.pairs[i]
        p = self.price[i] * math.exp(self.rng.gauss(0.0, 0.0008))
        tick = 10.0 ** -dec
        p = max(round(p, dec), tick)
        self.price[i] = p
        return p

    def lines_for(self, due_ms, ingest_ms):
        """Wire lines for one scheduled trade: the trade itself, sometimes
        preceded by a malformed line or followed by a duplicate."""
        rng = self.rng
        out = []
        if rng.random() < BAD_SHARE:
            out.append(self._malformed())
        i = rng.choices(range(len(self.pairs)), cum_weights=self.cum)[0]
        symbol, _, dec = self.pairs[i]
        price = self._walk(i)
        notional = min(rng.lognormvariate(math.log(300.0), 1.2), MAX_NOTIONAL)
        size = max(round(notional / price, 6), 1e-6)
        side = "buy" if rng.random() < 0.5 else "sell"
        order_type = "market" if rng.random() < 0.7 else "limit"
        ts_event = due_ms
        if rng.random() < LATE_SHARE:
            ts_event = due_ms - rng.randint(1, LATE_MAX_MS)
            self.stats["late_shifted"] += 1
        price_s, size_s = repr(price), repr(size)
        line = self._payload(symbol, price_s, size_s, side, order_type,
                             ts_event, ingest_ms)
        out.append(line)
        self.stats["trades"] += 1
        if self.bars.add(symbol, ts_event, price, price_s, size, size_s, side):
            self.stats["valid_trades"] += 1
        self.max_event_ms = max(self.max_event_ms, ts_event)
        self.recent.append((symbol, price_s, size_s, side, order_type, ts_event))
        if len(self.recent) > 64:
            self.recent.pop(0)
        if rng.random() < DUP_SHARE:
            # at-least-once redelivery of a recent trade, re-ingested now
            d = self.recent[rng.randrange(len(self.recent))]
            out.append(self._payload(*d, ingest_ms))
            self.stats["duplicates"] += 1
            self.stats["trades"] += 1
        self.stats["lines"] += len(out)
        return out

    @staticmethod
    def _payload(symbol, price_s, size_s, side, order_type, ts_event, ts_ingest):
        return ('{"exchange":"kraken","symbol":"%s","price":%s,"size":%s,'
                '"side":"%s","order_type":"%s","ts_event":%d,"ts_ingest":%d}'
                % (symbol, price_s, size_s, side, order_type, ts_event,
                   ts_ingest))

    def _malformed(self):
        self.stats["malformed"] += 1
        kind = self.rng.randrange(3)
        if kind == 0:
            return '{"exchange":"kraken","symbol":"XBT/USD","price":640'
        if kind == 1:
            return "kraken heartbeat"
        return '{"event":"heartbeat","channel":"trade"}'

    def sentinel(self, ts_ms):
        self.stats["lines"] += 1
        return self._payload(SENTINEL, "1.0", "1.0", "buy", "limit", ts_ms, ts_ms)


def zipf_picks(seed, k):
    """The analyst's symbol choices: Zipf over the pairs."""
    rng = random.Random(seed ^ 0xA11CE)
    names = [p[0] for p in PAIRS]
    return rng.choices(names, cum_weights=zipf_cum_weights(len(names)), k=k)


def land(out_dir, index, lines):
    """Write one landing file atomically (hidden temp name, then rename)."""
    name = "part-%05d.json" % index
    tmp = os.path.join(out_dir, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, os.path.join(out_dir, name))


def quantile(values, q):
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def history(seed, trades, out, expected, report):
    """Land a `trades`-trade history of HISTORY_SPAN_S seconds at once."""
    os.makedirs(out, exist_ok=True)
    maker = TradeMaker(seed)
    rng = random.Random(seed ^ 0x5EED)
    mean_gap = HISTORY_SPAN_S * 1000.0 / trades
    t = float(HISTORY_T0_MS)
    buf, files = [], 0
    for _ in range(trades):
        t += rng.expovariate(1.0 / mean_gap)
        due = int(t)
        buf.extend(maker.lines_for(due, due + rng.randrange(500)))
        if len(buf) >= HISTORY_PER_FILE:
            land(out, files, buf)
            files, buf = files + 1, []
    buf.append(maker.sentinel(maker.max_event_ms + 10 * BAR_MS))
    land(out, files, buf)
    files += 1
    maker.bars.write_csv(expected)
    write_json(report, dict(maker.stats, mode="history", files=files,
                            late_ms_p50=0.0, late_ms_max=0.0,
                            bars=len(maker.bars.bars),
                            last_event_ms=maker.max_event_ms))


def live(seed, t0_ms, duration_s, out, expected, report):
    """Land one file per LIVE_INTERVAL_MS from t0_ms on, for duration_s,
    each due at the end of its interval, whether or not the reader keeps
    up; trades are stamped with their scheduled creation time."""
    os.makedirs(out, exist_ok=True)
    maker = TradeMaker(seed)
    per_ms = LIVE_RATE / 1000.0
    n_files = int(duration_s * 1000 / LIVE_INTERVAL_MS)
    late, writes = [], []
    j = 0
    for k in range(n_files):
        due_write = t0_ms + (k + 1) * LIVE_INTERVAL_MS
        end_slot = int(math.ceil((k + 1) * LIVE_INTERVAL_MS * per_ms))
        lines = []
        first = j
        while j < end_slot:
            due = t0_ms + int(j / per_ms)
            lines.extend(maker.lines_for(due, due))
            j += 1
        time.sleep(max(0.0, due_write / 1000.0 - time.time()))
        land(out, k, lines)
        # lateness of the file's landing against its schedule
        now = int(time.time() * 1000)
        late.append(now - due_write)
        writes.append([first, j, due_write, now])
    maker.bars.write_csv(expected)
    write_json(report, dict(maker.stats, mode="live", files=n_files,
                            t0_ms=t0_ms, rate=LIVE_RATE,
                            interval_ms=LIVE_INTERVAL_MS, slots=j,
                            late_ms_p50=quantile(late, 0.5),
                            late_ms_max=float(max(late) if late else 0),
                            writes=writes, bars=len(maker.bars.bars),
                            last_event_ms=maker.max_event_ms))


def write_json(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["history", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--trades", type=int, help="history size")
    ap.add_argument("--t0-ms", type=int, help="live schedule start")
    ap.add_argument("--duration-s", type=float, help="live schedule length")
    a = ap.parse_args(argv)
    if a.mode == "history":
        if a.trades is None:
            ap.error("history mode needs --trades")
        history(a.seed, a.trades, a.out, a.expected, a.report)
    else:
        if a.t0_ms is None or a.duration_s is None:
            ap.error("live mode needs --t0-ms and --duration-s")
        live(a.seed, a.t0_ms, a.duration_s, a.out, a.expected, a.report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
