"""Seeded input tables for the benchmark.

Writes `events.parquet` and `documents.parquet` with the schema of the
repository's test tables, so the engine's queries and their DuckDB oracles
run on them unchanged. The same seed always gives byte-identical tables.

Why each property is kept (every one is something a query relies on):

- `ts` increases with `event_id` (exponential gaps, mean
  `SPAN_S / n_events`), and no device has two consecutive events on
  different days at the same time of day to the second. The NMEA
  synthesizer emits a device's sentences in `event_id` order and fix
  assembly segments fixes by runs of the carried HHmmss, while the oracle
  groups by the full second; the two agree only under these properties,
  which the oracle's doc in `engine.rel.GpsQueries` states and the testdata
  has. A seed whose draw breaks them is redrawn from the next sub-seed.
- `value` has two decimals and an exponential spread (mean 50): the NMEA
  encoding is exact only for two-decimal inputs, and the spread puts lat,
  lon, speed and hdop across their whole ranges, so the quality gate drops a
  real share of fixes.
- `user_id` is uniform over the devices: every device has a state entry in
  the streaming fold, and per-device work is balanced.
- Documents draw 10 to 100 words from a 30-word vocabulary, and one in
  twenty repeats an earlier document's text with a `dup` suffix. That gives
  both the exact screen and the minhash screen of `pipeline_online` real
  drops, as the testdata does.
"""
import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_S = 30 * 86400
START = datetime.datetime(2024, 1, 1)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DUP_SHARE = 0.05


def day_collisions(ts_us, user):
    """Consecutive events of one device that share the time of day to the
    second but not the second itself."""
    sec = ts_us // 1_000_000
    order = np.lexsort((sec, user))
    u, s = user[order], sec[order]
    same_dev = u[1:] == u[:-1]
    return int(np.sum(same_dev & (s[1:] != s[:-1])
                      & (s[1:] % 86400 == s[:-1] % 86400)))


def events(seed, n, devices):
    for sub in range(100):
        rng = np.random.default_rng([seed, sub])
        gaps = rng.exponential(SPAN_S / n, size=n)
        ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64) + 10_000_000
        user = rng.integers(0, devices, size=n, dtype=np.int64)
        if day_collisions(ts_us, user) == 0:
            break
    else:
        raise RuntimeError(f"seed {seed}: every draw has a time-of-day collision")
    start = np.datetime64(START, "us")
    return rng, pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + ts_us.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array(
            ['{"k": %d}' % k for k in rng.integers(0, 100, size=n)]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(
            [LANGS[i] for i in rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def write_tables(out_dir, seed, n_events, n_devices, n_docs):
    """Write both tables under `out_dir` from `seed`; returns `out_dir`."""
    rng, ev = events(seed, n_events, n_devices)
    pq.write_table(ev, f"{out_dir}/events.parquet")
    pq.write_table(documents(rng, n_docs), f"{out_dir}/documents.parquet")
    return out_dir
