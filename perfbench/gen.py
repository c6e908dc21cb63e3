"""Seeded input generator for the warehouse benchmark.

Every input the engine sees is made here from the seed, so the same seed
gives byte-identical files and the engine receives nothing else:

- ``snapshot``: an events-shaped feed (the `events` fixture's schema) of
  SITES sites x SNAPSHOT_DAYS days of hourly readings, written as
  FEED_FILES parquet files so scans split across cores; every set-up
  builds the starting warehouse from it;
- ``batches/bNNNN``: trickle batches.  Batch j carries the next hour of
  all sites after the snapshot plus LATE_FRAC late rows timestamped up
  to 24 h before that hour; every REPLAY_EVERY-th batch replays an
  earlier batch exactly;
- ``requests.jsonl``: the dashboard request sequence.

Run ``python3 perfbench/gen.py <out_dir> <seed>`` to write one set.
"""
import hashlib
import json
import os
import shutil
import sys
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = 100
SNAPSHOT_DAYS = 3
DAYS = SNAPSHOT_DAYS + 5  # the snapshot, then the trickle's hours
EVENTS_PER_SITE_HOUR = 10
FEED_FILES = 4
BATCHES = 120  # enough for ops 30x faster than today's
LATE_FRAC = 0.03
REPLAY_EVERY = 5
REQUESTS = 4000
HOURS_PRESETS = (24, 48, 168, 336)
# endpoint mix of the dashboard workload
ENDPOINTS = (("hourly", 0.40), ("metrics", 0.20), ("raw", 0.15),
             ("summary", 0.15), ("sites", 0.10))
MIX_BLOCK = 20
UNKNOWN_FRAC = 0.02
ZIPF_S = 1.1  # site popularity
# Share of requests the API's cache (64 entries, LRU) answers. With the
# fast summary misses and 404s, about a third of the requests are fast, so
# the median stays inside the slow miss cluster instead of at its edge.
HIT_TARGET = 0.2
CACHE_ENTRIES = 64

KEEP_SETS = 3

BASE_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
HOUR_US = 3600 * 1_000_000
BASE_TYPES = ("click", "view", "purchase", "signup", "error")

SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def site_names(n=SITES):
    return [f"{BASE_TYPES[i % len(BASE_TYPES)]}_r{i // len(BASE_TYPES):03d}"
            for i in range(n)]


def _events(rng, site_idx, ts_us, first_id):
    """Rows for the given (site, ts) pairs, ids assigned in ts order."""
    order = np.lexsort((site_idx, ts_us))
    site_idx, ts_us = site_idx[order], ts_us[order]
    n = len(ts_us)
    names = np.array(site_names(), dtype=object)
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts_us,
        "user_id": rng.integers(0, 1500, n, dtype=np.int64),
        "event_type": names[site_idx],
        "value": np.round(rng.uniform(0.0, 250.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          dtype=object),
    }


def _table(cols, sel=None):
    if sel is not None:
        cols = {k: v[sel] for k, v in cols.items()}
    arrays = [pa.array(cols["event_id"]),
              pa.array(cols["ts"], type=pa.timestamp("us")),
              pa.array(cols["user_id"]), pa.array(cols["event_type"]),
              pa.array(cols["value"]), pa.array(cols["props"])]
    return pa.Table.from_arrays(arrays, schema=SCHEMA)


def _write_split(table, directory, files):
    os.makedirs(directory)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(directory, f"part-{f:03d}.parquet"),
                       compression="snappy")


def feed_columns(rng):
    hours = DAYS * 24
    counts = rng.poisson(EVENTS_PER_SITE_HOUR, (SITES, hours)).clip(min=1)
    site_idx = np.repeat(np.arange(SITES), counts.sum(axis=1))
    hour_idx = np.concatenate(
        [np.repeat(np.arange(hours), counts[s]) for s in range(SITES)])
    ts_us = (BASE_US + hour_idx.astype(np.int64) * HOUR_US
             + rng.integers(0, HOUR_US, len(hour_idx)))
    return _events(rng, site_idx, ts_us, 0)


def batches(rng, feed, first_id):
    """Trickle batches as (column dict, replayed batch index or None)."""
    snap_end = BASE_US + SNAPSHOT_DAYS * 24 * HOUR_US
    out, fresh, next_id = [], [], first_id
    for j in range(BATCHES):
        if j % REPLAY_EVERY == REPLAY_EVERY - 1:
            out.append(fresh[int(rng.integers(0, len(fresh)))])
            continue
        lo = snap_end + len(fresh) * HOUR_US
        sel = (feed["ts"] >= lo) & (feed["ts"] < lo + HOUR_US)
        hour_rows = {k: v[sel] for k, v in feed.items()}
        n_late = max(1, int(round(LATE_FRAC * int(sel.sum()))))
        late = _events(rng, rng.integers(0, SITES, n_late),
                       lo - rng.integers(1, 24 * HOUR_US + 1, n_late),
                       next_id)
        next_id += n_late
        batch = {k: np.concatenate([hour_rows[k], late[k]]) for k in feed}
        fresh.append((batch, j))
        out.append((batch, None))
    return out


def requests(rng):
    """The dashboard sequence. Endpoints follow the mix exactly in every
    block of MIX_BLOCK requests, and each request is chosen against a
    model of the API's LRU cache so that HIT_TARGET of every prefix are
    hits: the median then sits in the miss mode on every seed, instead
    of moving with each seed's share of hits."""
    names = site_names()
    ranks = rng.permutation(SITES)
    weights = 1.0 / np.arange(1, SITES + 1) ** ZIPF_S
    weights /= weights.sum()
    block = [ep for ep, share in ENDPOINTS
             for _ in range(round(share * MIX_BLOCK))]
    lru, hits, out = OrderedDict(), 0, []

    def key(r):
        if r["endpoint"] == "sites":
            return ("sites",)
        if r["endpoint"] in ("summary", "metrics"):
            return (r["endpoint"], r["site"])
        return (r["endpoint"], r["site"], r["hours"])

    for i in range(REQUESTS):
        if i % MIX_BLOCK == 0:
            order = rng.permutation(block)
        ep = str(order[i % MIX_BLOCK])
        cached = [k for k in lru if k[0] == ep]
        if hits < HIT_TARGET * (i + 1) and cached:
            k = cached[int(rng.integers(0, len(cached)))]
            r = {"endpoint": ep, "site": k[1] if len(k) > 1 else names[0],
                 "hours": k[2] if len(k) > 2 else int(rng.choice(HOURS_PRESETS))}
        elif ep in ("hourly", "raw", "metrics") and rng.random() < UNKNOWN_FRAC:
            r = {"endpoint": ep, "site": f"unknown_{int(rng.integers(0, 1000)):03d}",
                 "hours": int(rng.choice(HOURS_PRESETS))}
        else:
            for _ in range(20):  # a fresh key when one can be found
                r = {"endpoint": ep,
                     "site": names[ranks[rng.choice(SITES, p=weights)]],
                     "hours": int(rng.choice(HOURS_PRESETS))}
                if key(r) not in lru:
                    break
        out.append(r)
        if r["site"].startswith("unknown_"):
            continue  # a 404 is never cached
        k = key(r)
        if k in lru:
            hits += 1
            lru.move_to_end(k)
        else:
            lru[k] = True
            if len(lru) > CACHE_ENTRIES:
                lru.popitem(last=False)
    return out


def generate(out_dir, seed):
    """Write one input set into ``out_dir`` (which must not exist)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    feed = feed_columns(rng)
    tmp = out_dir + ".part"
    shutil.rmtree(tmp, ignore_errors=True)
    snap = feed["ts"] < BASE_US + SNAPSHOT_DAYS * 24 * HOUR_US
    _write_split(_table(feed, snap),
                 os.path.join(tmp, "snapshot", "events.parquet"), FEED_FILES)
    replays = {}
    for j, (b, src) in enumerate(batches(rng, feed, len(feed["ts"]))):
        _write_split(_table(b), os.path.join(tmp, "batches", f"b{j:04d}"), 1)
        if src is not None:
            replays[f"b{j:04d}"] = f"b{src:04d}"
    with open(os.path.join(tmp, "requests.jsonl"), "w") as f:
        for r in requests(rng):
            f.write(json.dumps(r, sort_keys=True) + "\n")
    meta = {"seed": seed, "sites": site_names(), "replays": replays}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.rename(tmp, out_dir)


def fingerprint(seed):
    """Key of one input set: the seed plus this generator's source."""
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(src + str(seed).encode()).hexdigest()[:16]


def ensure(inputs_root, seed):
    """Build the input set for ``seed`` once and reuse it behind a
    ``_READY`` marker; keep at most KEEP_SETS sets on disk."""
    fp = fingerprint(seed)
    d = os.path.join(inputs_root, fp)
    ready = os.path.join(d, "_READY")
    if not os.path.exists(ready):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(inputs_root, exist_ok=True)
        generate(d, seed)
        open(ready, "w").close()
    others = sorted((os.path.getmtime(os.path.join(inputs_root, e)), e)
                    for e in os.listdir(inputs_root) if e != fp)
    for _, e in others[:max(0, len(others) - (KEEP_SETS - 1))]:
        shutil.rmtree(os.path.join(inputs_root, e), ignore_errors=True)
    os.utime(d)
    return d


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
