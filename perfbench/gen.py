"""Seeded input generator for the `pipeline` workload.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, another seed writes different ones (test_perfbench.py
pins both). The generators use only `random.Random(seed)`, never the global
RNG or the clock.

pipeline: Binance-shaped CSVs in the variants FIXTURES.md lists, split into
an initial batch and overlapping re-ingest batches (re-send the trailing day
with revised non-key values, add a new day), plus the last-write-wins table
state the warehouse must hold after all batches, in canonical CSV form.

stream: Kafka-wire trade records (key = symbol, value = exchange JSON) for
the pipeline's streaming op, split into micro-batches that each advance event
time; a share of records arrive late, always inside the 2-minute watermark.
"""
import datetime
import os
import random

# A hot symbol with 60 % of the trades and a cooler one. The per-file cost of
# loading dominates at this size, so the file count sets the run length.
PIPELINE_SYMBOLS = ["BTCUSDT", "ETHUSDT"]
PIPELINE_DAYS = 2          # days in the initial batch
PIPELINE_REINGESTS = 1     # re-ingest batches, each re-sends one day and adds one
KLINE_STEP_MIN = 5         # one kline every 5 minutes: 288 per symbol-day
TRADES_PER_DAY = {"BTCUSDT": 2400, "ETHUSDT": 1600}
BOOK_SNAPSHOTS_PER_DAY = 2
BOOK_LEVELS = 100
T0 = datetime.datetime(2025, 3, 10, tzinfo=datetime.timezone.utc)

STREAM_SYMBOLS = ["BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT",
                  "XRPUSDT", "ADAUSDT", "DOGEUSDT", "AVAXUSDT"]
STREAM_BATCHES = 4
STREAM_BATCH_EVENTS = 1000
STREAM_BATCH_EVENT_MS = 120_000    # event time each micro-batch advances
STREAM_LATE_SHARE = 0.05
STREAM_LATE_MS = (20_000, 90_000)  # inside the 2-minute watermark


def _iso(ms):
    return datetime.datetime.fromtimestamp(
        ms / 1000, tz=datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _day_ms(day):
    return int((T0 + datetime.timedelta(days=day)).timestamp() * 1000)


def _write(path, header, rows):
    with open(path, "w", newline="\n") as f:
        f.write(header + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def _klines(rng, day, price):
    """(rows keyed by open_time ms, last price): OHLCV every KLINE_STEP_MIN."""
    rows = {}
    start = _day_ms(day)
    for i in range(24 * 60 // KLINE_STEP_MIN):
        t = start + i * KLINE_STEP_MIN * 60_000
        o = price
        c = max(o * (1 + rng.gauss(0, 0.002)), 0.01)
        hi = max(o, c) * (1 + abs(rng.gauss(0, 0.001)))
        lo = min(o, c) * (1 - abs(rng.gauss(0, 0.001)))
        vol = rng.lognormvariate(2.0, 0.8)
        rows[t] = [f"{o:.2f}", f"{hi:.2f}", f"{lo:.2f}", f"{c:.2f}",
                   f"{vol:.5f}", str(rng.randint(50, 3000))]
        price = c
    return rows, price


def _trades(rng, day, price, n, first_id):
    rows = {}
    start = _day_ms(day)
    for k in range(n):
        tid = first_id + k
        t = start + int(k * 86_400_000 / n) + rng.randint(0, 999)
        p = price * (1 + rng.gauss(0, 0.003))
        # Heavy-tailed size: Pareto(1.3) makes the 99.5 % notional quantile
        # select a non-empty large-trade set.
        q = 0.001 * rng.paretovariate(1.3)
        rows[tid] = [f"{p:.8f}", f"{q:.8f}", f"{p * q:.8f}", str(t),
                     rng.choice(["True", "False"]), "True"]
    return rows


def _book(rng, day, price, snap_base):
    """{(side, price, update_id): [qty, time_ms, side_as_written]}."""
    rows = {}
    start = _day_ms(day)
    for s in range(BOOK_SNAPSHOTS_PER_DAY):
        uid = snap_base + s
        t = start + (s + 1) * 86_400_000 // (BOOK_SNAPSHOTS_PER_DAY + 1)
        for side, sign in (("bid", -1), ("ask", 1)):
            for lvl in range(BOOK_LEVELS):
                px = f"{price * (1 + sign * 0.0001 * (lvl + 1)):.4f}"
                q = f"{rng.lognormvariate(-1.0, 1.0):.5f}"
                written = rng.choice([side, side.upper(), " " + side.capitalize() + " "])
                rows[(side, px, str(uid))] = [q, t, written]
    return rows


def pipeline(seed, out_dir):
    """Writes batch directories and `expected/` under `out_dir`.

    Returns {"batches": [name, ...], "rows": [csv rows per batch],
    "bytes": [csv bytes per batch], "symbols": [...], "days": n}.
    """
    rng = random.Random(seed)
    bases = {"BTCUSDT": 84000.0, "ETHUSDT": 1900.0}
    state = {s: {"price": bases[s] * (1 + rng.uniform(-0.05, 0.05)),
                 "next_trade": rng.randint(10**9, 2 * 10**9),
                 "next_book": rng.randint(10**10, 2 * 10**10)}
             for s in PIPELINE_SYMBOLS}
    # Per-file variants, fixed per symbol: epoch-ms vs ISO open_time, the
    # trades-count alias, and one klines file without symbol/tf columns.
    ms_time = {s: i % 2 == 0 for i, s in enumerate(PIPELINE_SYMBOLS)}
    count_alias = dict(zip(PIPELINE_SYMBOLS, ["num_trades", "trades"]))
    no_ids = PIPELINE_SYMBOLS[-1]

    # Generate every day once; a re-sent day reuses its keys with revised
    # non-key values.
    n_days = PIPELINE_DAYS + PIPELINE_REINGESTS
    days = {}
    for d in range(n_days):
        for s in PIPELINE_SYMBOLS:
            st = state[s]
            k, st["price"] = _klines(rng, d, st["price"])
            n = TRADES_PER_DAY[s]
            t = _trades(rng, d, st["price"], n, st["next_trade"])
            st["next_trade"] += n
            b = _book(rng, d, st["price"], st["next_book"])
            st["next_book"] += BOOK_SNAPSHOTS_PER_DAY
            days[(s, d)] = (k, t, b)

    def revise(day_rows):
        k, t, b = day_rows
        k2 = {key: v[:4] + [f"{float(v[4]) * (1 + rng.uniform(0.01, 0.2)):.5f}", v[5]]
              if rng.random() < 0.3 else v for key, v in k.items()}
        b2 = {key: [f"{float(v[0]) * 1.5:.5f}", v[1] + 1000, v[2]]
              if rng.random() < 0.3 else v for key, v in b.items()}
        return k2, dict(t), b2

    batch_days = [list(range(PIPELINE_DAYS))]
    for r in range(PIPELINE_REINGESTS):
        last = PIPELINE_DAYS - 1 + r
        batch_days.append([last, last + 1])
    final = {}  # (table, key) -> canonical row; last write wins
    info = {"batches": [], "rows": [], "bytes": [], "symbols": PIPELINE_SYMBOLS,
            "days": n_days}
    sent = set()
    for bi, ds in enumerate(batch_days):
        bdir = os.path.join(out_dir, f"batch{bi}")
        os.makedirs(bdir)
        rows_n = 0
        content = {s: ({}, {}, {}) for s in PIPELINE_SYMBOLS}
        for d in ds:
            for s in PIPELINE_SYMBOLS:
                dr = days[(s, d)]
                if (s, d) in sent:
                    dr = revise(dr)
                    days[(s, d)] = dr
                sent.add((s, d))
                for acc, part in zip(content[s], dr):
                    acc.update(part)
        for s in PIPELINE_SYMBOLS:
            k, t, b = content[s]
            alias = count_alias[s]
            if s == no_ids:
                hdr = f"open_time,open,high,low,close,volume,{alias}"
            else:
                hdr = f"symbol,tf,open_time,open,high,low,close,volume,{alias}"
            rows = []
            for tm in sorted(k):
                v = k[tm]
                ts = str(tm) if ms_time[s] else _iso(tm)
                ids = [] if s == no_ids else [s, "1m"]
                rows.append(ids + [ts] + v)
                final[("candles", (s, tm))] = [s, "1m", _iso(tm)] + v
            _write(os.path.join(bdir, f"klines_{s}_1m.csv"), hdr, rows)
            rows_n += len(rows)

            rows = []
            for tid in sorted(t):
                p, q, qq, tm, bm, best = t[tid]
                rows.append([s, str(tid), p, q, qq, _iso(int(tm)), bm, best])
                final[("trades", (s, tid))] = rows[-1]
            _write(os.path.join(bdir, f"trades_{s}.csv"),
                   "symbol,trade_id,price,qty,quote_qty,trade_time,is_buyer_maker,is_best_match",
                   rows)
            rows_n += len(rows)

            rows = []
            for key in sorted(b):
                side, px, uid = key
                q, tm, written = b[key]
                rows.append([s, px, q, written, uid, str(tm)])
                final[("order_books", (s,) + key)] = [s, px, q, side, uid, _iso(tm)]
            # One row that is neither bid nor ask: the reader must drop it.
            rows.append([s, "1.00", "1.00000", "mid", "1", str(_day_ms(ds[0]))])
            _write(os.path.join(bdir, f"orderbook_{s}.csv"),
                   "symbol,price,qty,side,update_id,timestamp", rows)
            rows_n += len(rows)
        info["batches"].append(os.path.basename(bdir))
        info["rows"].append(rows_n)
        info["bytes"].append(sum(os.path.getsize(os.path.join(bdir, f))
                                 for f in os.listdir(bdir)))

    edir = os.path.join(out_dir, "expected")
    os.makedirs(edir)
    heads = {
        "candles": "symbol,tf,open_time,open,high,low,close,volume,num_trades",
        "trades": "symbol,trade_id,price,qty,quote_qty,trade_time,is_buyer_maker,is_best_match",
        "order_books": "symbol,price,qty,side,update_id,update_time",
    }
    names = {"candles": "klines_expected_1m.csv", "trades": "trades_expected.csv",
             "order_books": "orderbook_expected.csv"}
    for table, hdr in heads.items():
        rows = [v for (tb, _), v in sorted(final.items(), key=lambda kv: str(kv[0]))
                if tb == table]
        _write(os.path.join(edir, names[table]), hdr, rows)
        info[f"expected_{table}"] = len(rows)
    return info


def warmup(out_dir):
    """A tiny fixed klines file (one symbol, one day) for the set-up passes."""
    rng = random.Random(0)
    os.makedirs(out_dir)
    k, _ = _klines(rng, 0, 84000.0)
    _write(os.path.join(out_dir, "klines_BTCUSDT_1m.csv"),
           "symbol,tf,open_time,open,high,low,close,volume,num_trades",
           [["BTCUSDT", "1m", _iso(tm)] + v for tm, v in sorted(k.items())])


def stream(seed, path, batches=STREAM_BATCHES, per_batch=STREAM_BATCH_EVENTS):
    """Writes `batches * per_batch` Kafka-wire trade records to `path`, one per
    line: `batch <TAB> symbol <TAB> json`. Batch k carries event times in
    [k, k + 1) * STREAM_BATCH_EVENT_MS, less the lateness of late records.
    Returns the record count."""
    rng = random.Random(seed)
    t_event0 = _day_ms(0)
    prices = {s: 10.0 * (i + 1) * (1 + rng.uniform(-0.1, 0.1))
              for i, s in enumerate(STREAM_SYMBOLS)}
    lines = []
    used = {s: set() for s in STREAM_SYMBOLS}
    for k in range(batches):
        for j in range(per_batch):
            i = k * per_batch + j
            sym = rng.choice(STREAM_SYMBOLS)
            prices[sym] = max(prices[sym] * (1 + rng.gauss(0, 0.001)), 0.01)
            ev = t_event0 + i * STREAM_BATCH_EVENT_MS // per_batch
            if rng.random() < STREAM_LATE_SHARE:
                ev -= rng.randint(*STREAM_LATE_MS)
            # Unique event times per symbol: a bar's open and close (min_by
            # and max_by over trade time) are then the same in any
            # processing order.
            while ev in used[sym]:
                ev += 1
            used[sym].add(ev)
            # Quantities are multiples of 1/1024, so every sum of them is
            # exact in binary floating point and a bar's volume does not
            # depend on the order a stream or a batch adds them in.
            qty = min(int(rng.paretovariate(1.5)), 1 << 20) / 1024
            p = prices[sym]
            value = (f'{{"id":{i + 1},"price":"{p:.8f}","qty":"{qty:.10f}",'
                     f'"quoteQty":"{p * qty:.8f}","time":{ev},'
                     f'"isBuyerMaker":{"true" if rng.random() < 0.5 else "false"},'
                     f'"isBestMatch":true}}')
            lines.append(f"{k}\t{sym}\t{value}\n")
    with open(path, "w", newline="\n") as f:
        f.writelines(lines)
    return len(lines)
