"""Seeded input generation for the benchmark workloads.

Registry workloads read a row permutation of the bundled base tables
(`data/<scale>/`), one parquet file per table with every column's type and the
file's key-value metadata kept. `ingest_e2e` reads generated Energinet
envelopes and an event file stream; its generator also returns the
expected outputs of every leg.
"""
import json
import os
from collections import defaultdict
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def permute_tables(seed, out_dir, scale):
    """Writes every base table of `data/<scale>` with its rows in a
    seed-chosen order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = pq.ParquetFile(os.path.join(BASE, scale, f"{t}.parquet"))
        table = src.read()
        codec = src.metadata.row_group(0).column(0).compression.lower()
        pq.write_table(table.take(rng.permutation(table.num_rows)),
                       os.path.join(out_dir, f"{t}.parquet"), compression=codec)


# ---- ingest_e2e --------------------------------------------------------
#
# Energinet's ConsumptionIndustry feed has one record per HourUTC ×
# MunicipalityNo × Branche (FIXTURES.md §1): 24 × 98 × 3 = 7056 a day.
# The producer fetches one day at a time, sorted by HourUTC descending
# (SURVEY.md S1, S3), dedups records per day against Redis (D1) and
# restarts after a failure (D4). A restart re-fetches the whole day, and
# the records sent before the failure come again; the per-day dedup
# drops them. Each day here is fetched twice: once up to a failure after
# a seeded share of the day, once in full.
#
# The event stream is the bundled `events` table, which FIXTURES.md names
# as the stand-in for the consumption stream: one file per day of a
# seeded run of consecutive days, rows in seeded order within their day
# (out of order by less than the 1-day watermark). From the third file
# on, a share of rows comes from days before the stream's first day,
# behind the watermark.

DAYS = 2                 # one day-window fetch (and one MERGE) per day
HOURS = 24
MUNICIPALITIES = 98      # Denmark's municipalities
BRANCHES = ["Erhverv", "Offentligt", "Privat"]
STREAM_SCALE = "sf0.01"
STREAM_FILES = 3         # one file per day, one micro-batch each
LATE_SHARE = 0.05        # late rows added to files 2.., as a share of the file
EPOCH = datetime(1970, 1, 1)


def _hour(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%S")


def _day_grid(day, rng, munis):
    """One fetch of a day: every hour × municipality × branche once, in
    the API's order (HourUTC descending). Quarter-kWh values keep every
    float32 and every sum exact."""
    kwh = rng.integers(1, 400_000, HOURS * len(munis) * len(BRANCHES)) / 4.0
    recs = []
    for h in reversed(range(HOURS)):
        ts = day + timedelta(hours=h)
        for m in munis:
            for b in BRANCHES:
                recs.append({"HourUTC": _hour(ts), "HourDK": _hour(ts + timedelta(hours=1)),
                             "MunicipalityNo": m, "Branche": b,
                             "ConsumptionkWh": float(kwh[len(recs)])})
    return recs


def ingest_inputs(seed, out_dir):
    """Writes envelopes.parquet and stream/part-NNN.parquet under out_dir
    and returns the expected result of each leg."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "stream"), exist_ok=True)
    start = datetime(2024, 11, 1) + timedelta(days=int(rng.integers(0, 28)))
    munis = [str(101 + 4 * i) for i in range(MUNICIPALITIES)]

    envelopes, unique = [], []
    for d in range(DAYS):
        recs = _day_grid(start + timedelta(days=d), rng, munis)
        sent = int(rng.integers(0, len(recs)))
        for fetch in (recs[:sent], recs):
            envelopes.append(json.dumps({"total": len(fetch),
                                         "dataset": "ConsumptionIndustry",
                                         "records": fetch}))
        unique += [tuple(r.values()) for r in recs]
    pq.write_table(pa.table({"js": envelopes}),
                   os.path.join(out_dir, "envelopes.parquet"))

    totals = defaultdict(lambda: [0.0, 0])
    for hour_utc, _, muni, _, k in unique:
        t = totals[(date.fromisoformat(hour_utc[:10]), muni)]
        t[0] += k
        t[1] += 1
    e2 = [{"day": d, "muni": m, "kwh": v[0], "n": v[1]}
          for (d, m), v in sorted(totals.items())]
    catalog = {}
    for r in e2:
        c = catalog.setdefault(r["muni"], {"muni": r["muni"], "last_day": r["day"],
                                           "kwh": 0.0, "days": 0})
        c["last_day"] = max(c["last_day"], r["day"])
        c["kwh"] += r["kwh"]
        c["days"] += 1

    stream = _event_stream(rng, os.path.join(out_dir, "stream"))
    return {"e1": {"rows": len(unique)}, "e2": e2, "stream": stream,
            "catalog": sorted(catalog.values(), key=lambda c: c["muni"])}


def _event_stream(rng, out_dir):
    """Writes the event files and returns the expected sink rows.

    Stateful operators drop rows older than the watermark of the batch
    before last. For file i >= 2 that is the latest event time of files
    0..i-2 minus 1 day, which falls on or after the day before day 0.
    Late rows come from two or more days before day 0, and on-time rows
    from day i, so each row is unambiguously on time or late."""
    events = pq.read_table(os.path.join(BASE, STREAM_SCALE, "events.parquet"))
    ts = events.column("ts").cast(pa.timestamp("us")).to_numpy().astype("datetime64[us]")
    day_of = ((ts - np.datetime64(EPOCH, "us")) // np.timedelta64(1, "D")).astype(np.int64)
    days = np.unique(day_of)
    first = int(rng.integers(3, len(days) - STREAM_FILES + 1))
    before = np.flatnonzero(day_of <= days[first - 2])
    events = events.set_column(events.schema.get_field_index("ts"), "ts",
                               events.column("ts").cast(pa.timestamp("us")).cast(
                                   pa.timestamp("us", tz="UTC")))
    kept, max_ts, mtime = [], None, 1_600_000_000
    for i in range(STREAM_FILES):
        rows = np.flatnonzero(day_of == days[first + i])
        kept.append(rows)
        if i >= 2:
            late = rng.choice(before, int(len(rows) * LATE_SHARE), replace=False)
            before = np.setdiff1d(before, late)
            rows = np.concatenate([rows, late])
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(events.take(rng.permutation(rows)), path)
        os.utime(path, (mtime + i, mtime + i))
    kept = np.concatenate(kept)
    # Append mode emits a day window once the final watermark (latest
    # event time minus 1 day) passes its end.
    final_wm = ts[kept].max() - np.timedelta64(1, "D")
    users = defaultdict(set)
    types = events.column("event_type").to_pylist()
    uids = events.column("user_id").to_pylist()
    for j in kept:
        d = np.datetime64(int(day_of[j]), "D")
        if d + np.timedelta64(1, "D") <= final_wm:
            users[(d, types[j])].add(uids[j])
    return [{"day": datetime.combine(d.item(), datetime.min.time()),
             "event_type": e, "n_dedup": len(us)}
            for (d, e), us in sorted(users.items())]
