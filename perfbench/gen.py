"""Seeded input generator: 30-minute bars in the `events` schema.

Each trading day has 32 New York wall-clock slots (04:00 to 19:30), Monday
to Friday, skipping every date in the 2024 calendar fixture. Prices follow a
per-symbol random walk kept to 2 decimals, the exact domain of the engine's
long-quantised aggregates. The same seed always gives byte-identical files.

Columns: event_id (int64), ts (naive timestamp[us], NY wall time), user_id
(int64, the symbol id), event_type (session: pre/reg/post), value (price),
props ('{"k": n}', as in the reference fixtures).
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CALENDAR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "fixtures", "us_calendar_2024.csv")
SLOTS = 32  # 04:00 .. 19:30 every 30 minutes

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

# Sizes. Rebuild: the probe reference was 500 symbols x 60 days; 24 days
# still fill the 20-day gold windows, and keep the trend oracle (a recursive
# CTE, one step per bar of a symbol) within a few seconds. Refresh: a
# history, then one batch per trading day (more days than a run consumes).
REBUILD = {"symbols": 32, "days": 24, "gap_share": 0.03, "dup_share": 0.02}
REFRESH = {"symbols": 40, "history_days": 30, "batch_days": 150,
           "late_slots": 4}


def trading_days():
    """Mon-Fri dates of 2024 that the calendar fixture does not list."""
    with open(CALENDAR) as f:
        closed = {line.split(",")[1] for line in f.read().splitlines()[1:]
                  if line}
    d = datetime.date(2024, 1, 1)
    out = []
    while d.year == 2024:
        if d.weekday() < 5 and d.isoformat() not in closed:
            out.append(d)
        d += datetime.timedelta(days=1)
    return out


def slot_times(day):
    base = datetime.datetime(day.year, day.month, day.day, 4, 0)
    return [base + datetime.timedelta(minutes=30 * k) for k in range(SLOTS)]


def session_of(slot):
    return "pre" if slot < 11 else ("reg" if slot < 24 else "post")


def price_paths(rng, symbols, n_bars):
    """(symbols, n_bars) prices: a 2-decimal multiplicative random walk."""
    start = np.round(rng.uniform(20.0, 400.0, size=(symbols, 1)), 2)
    steps = rng.normal(0.0, 0.004, size=(symbols, n_bars))
    steps[:, 0] = 0.0
    paths = start * np.exp(np.cumsum(steps, axis=1))
    return np.maximum(np.round(paths, 2), 0.01)


def bars(rng, days, symbols):
    """All bars of `days` for every symbol, as column lists in (day, slot,
    symbol) order, plus each bar's day index."""
    n = len(days) * SLOTS
    prices = price_paths(rng, symbols, n)
    props = rng.integers(0, 100, size=(symbols, n))
    cols = {"ts": [], "user_id": [], "event_type": [], "value": [],
            "props": [], "day": []}
    for di, day in enumerate(days):
        for s, t in enumerate(slot_times(day)):
            k = di * SLOTS + s
            for u in range(symbols):
                cols["ts"].append(t)
                cols["user_id"].append(u)
                cols["event_type"].append(session_of(s))
                cols["value"].append(float(prices[u, k]))
                cols["props"].append('{"k": %d}' % props[u, k])
                cols["day"].append(di)
    return cols


def table(cols, idx, first_id):
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + len(idx)),
                             pa.int64()),
        "ts": pa.array([cols["ts"][i] for i in idx], pa.timestamp("us")),
        "user_id": pa.array([cols["user_id"][i] for i in idx], pa.int64()),
        "event_type": pa.array([cols["event_type"][i] for i in idx]),
        "value": pa.array([cols["value"][i] for i in idx], pa.float64()),
        "props": pa.array([cols["props"][i] for i in idx]),
    }, schema=SCHEMA)


def write(tbl, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="snappy", row_group_size=1 << 20)
    return {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}


def rebuild_inputs(seed, out):
    """Raw feed for `medallion_rebuild`: a seeded window of trading days,
    with some bars missing (grid fill has gaps to fill) and some sent twice
    under a new event_id (ingest has duplicates to drop)."""
    rng = np.random.default_rng([seed, 1])
    cal = trading_days()
    first = int(rng.integers(0, len(cal) - REBUILD["days"] + 1))
    cols = bars(rng, cal[first:first + REBUILD["days"]], REBUILD["symbols"])
    n = len(cols["ts"])
    keep = np.flatnonzero(rng.random(n) >= REBUILD["gap_share"])
    dups = keep[rng.random(len(keep)) < REBUILD["dup_share"]]
    idx = np.concatenate([keep, dups]).tolist()
    f = write(table(cols, idx, 0), os.path.join(out, "raw", "events.parquet"))
    return {"raw": f, "days": REBUILD["days"],
            "symbols": REBUILD["symbols"], "duplicates": len(dups)}


def refresh_inputs(seed, out):
    """History plus one micro-batch file per later trading day. Batch k
    holds day k for every symbol except `late_slots` random slots per
    (symbol, day), which arrive late, in batch k + 1."""
    rng = np.random.default_rng([seed, 2])
    cal = trading_days()
    h, b = REFRESH["history_days"], REFRESH["batch_days"]
    days = cal[:h + b]
    symbols = REFRESH["symbols"]
    cols = bars(rng, days, symbols)
    day = np.asarray(cols["day"])
    late = np.zeros(len(day), dtype=bool)
    for di in range(h - 1, h + b):
        for u in range(symbols):
            slots = rng.choice(SLOTS, size=REFRESH["late_slots"],
                               replace=False)
            base = di * SLOTS * symbols
            late[base + slots * symbols + u] = True
    # arrival: the day itself, or the next day for late bars
    arrival = np.where(late, day + 1, day)
    manifest = {"history": None, "batches": []}
    next_id = 0
    hist_idx = np.flatnonzero(arrival < h).tolist()
    manifest["history"] = write(table(cols, hist_idx, next_id), os.path.join(
        out, "history", "events.parquet"))
    next_id += len(hist_idx)
    for k in range(b):
        idx = np.flatnonzero(arrival == h + k).tolist()
        manifest["batches"].append(write(table(cols, idx, next_id),
            os.path.join(out, "batches", "%04d" % k, "events.parquet")))
        next_id += len(idx)
    return manifest


GENERATORS = {"medallion_rebuild": rebuild_inputs,
              "incremental_refresh": refresh_inputs}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return their manifest."""
    m = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, sort_keys=True)
    return m
