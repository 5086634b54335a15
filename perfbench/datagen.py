"""Seeded input generators. The same seed gives byte-identical inputs;
only values change between seeds, never sizes, so every seed loads the
program with the same amount of work.

Everything is generated with NumPy and written with PyArrow, so input
generation never goes through the code under test. The workloads run
this file as a child process,

    python3 perfbench/datagen.py family|landing|batch --seed N --out DIR

so that the generator's memory never counts in the Spark driver
process's peak RSS.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: First instant of every generated time axis (UTC, microseconds).
T0_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z
HOUR_US = 3_600_000_000

# tsdb_query family: 100 series x 2k points, one point per ~22 min, so
# the family spans 30 days and ts_date pruning can matter.
N_SERIES = 100
POINTS_PER_SERIES = 2_000
STEP_US = 1_300_000_000
N_HOSTS = 20_000

# stream_ingest landing dir: one file per 12 hours of one day.
LANDING_FILES = 2
LANDING_ROWS_PER_FILE = 5_000
LANDING_SERIES = 24
LANDING_SPAN_US = 24 * HOUR_US

# Batch entry tables, shaped like the suite's fixtures.
N_DOCS = 1_000
DUP_SHARE = 0.06  # documents that are an earlier one plus " dup"
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
N_EVENTS = 20_000
N_USERS = 1_500
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def series_names(n: int = N_SERIES) -> list[str]:
    return [f"s{i:03d}" for i in range(n)]


def series_tags(i: int) -> tuple[str, str]:
    """Series-level tags ``(dc, env)`` of series number ``i``."""
    return f"dc{i % 4}", ("prod", "staging", "test")[i % 3]


def family_table(seed: int) -> pa.Table:
    """The tsdb_query series family: (series, ts, value, dc, env, host)."""
    rng = np.random.default_rng([seed, 1])
    n = N_SERIES * POINTS_PER_SERIES
    sid = np.repeat(np.arange(N_SERIES), POINTS_PER_SERIES)
    step = np.tile(np.arange(POINTS_PER_SERIES, dtype=np.int64), N_SERIES)
    ts = T0_US + step * STEP_US + rng.integers(0, STEP_US // 2, n)
    names = np.array(series_names())
    tags = [series_tags(i) for i in range(N_SERIES)]
    hosts = np.array([f"host-{h:05d}" for h in range(N_HOSTS)])
    return pa.table(
        {
            "series": names[sid],
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "value": rng.random(n) * 100.0,
            "dc": np.array([t[0] for t in tags])[sid],
            "env": np.array([t[1] for t in tags])[sid],
            "host": hosts[rng.integers(0, N_HOSTS, n)],
        }
    )


def family_span_us() -> tuple[int, int]:
    """``[start, end)`` covering every generated family point."""
    return T0_US, T0_US + POINTS_PER_SERIES * STEP_US


def write_landing_dir(seed: int, out_dir: str) -> None:
    """Write the stream_ingest landing dir: ``LANDING_FILES`` files in
    event-time order, each holding the next slice of one day of points."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    names = np.array(series_names(LANDING_SERIES))
    tags = [series_tags(i) for i in range(LANDING_SERIES)]
    dcs = np.array([t[0] for t in tags])
    envs = np.array([t[1] for t in tags])
    hosts = np.array([f"host-{h:05d}" for h in range(N_HOSTS)])
    slice_us = LANDING_SPAN_US // LANDING_FILES
    m = LANDING_ROWS_PER_FILE
    for f in range(LANDING_FILES):
        sid = rng.integers(0, LANDING_SERIES, m)
        ts = np.sort(T0_US + f * slice_us + rng.integers(0, slice_us, m))
        t = pa.table(
            {
                "series": names[sid],
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "value": rng.random(m) * 100.0,
                "dc": dcs[sid],
                "env": envs[sid],
                "host": hosts[rng.integers(0, N_HOSTS, m)],
            }
        )
        pq.write_table(t, os.path.join(out_dir, f"part-{f:03d}.parquet"))


def write_batch_dir(seed: int, out_dir: str) -> None:
    """Write ``documents`` and ``events`` parquet files with the suite
    fixtures' schemas into ``out_dir``.

    Documents are 10-100 words of a 31-word vocabulary; ``DUP_SHARE`` of
    them copy an earlier document and append ``dup`` (3-shingle Jaccard
    >= 0.889, so MinHash-LSH finds every pair), some of them copies of
    copies."""
    rng = np.random.default_rng([seed, 5])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(N_DOCS, dtype=np.int64),
                "text": texts,
                "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, N_DOCS)],
                "source": [f"src{i % 20}" for i in range(N_DOCS)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    ts = np.sort(rng.integers(0, 30 * 24 * HOUR_US, N_EVENTS)) + T0_US
    pq.write_table(
        pa.table(
            {
                "event_id": np.arange(N_EVENTS, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, N_USERS, N_EVENTS),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)],
                "value": np.round(rng.random(N_EVENTS) * 200.0, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )


def main() -> None:
    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("kind", choices=("family", "landing", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.kind == "family":
        os.makedirs(args.out, exist_ok=True)
        pq.write_table(family_table(args.seed), os.path.join(args.out, "family.parquet"))
    elif args.kind == "landing":
        write_landing_dir(args.seed, args.out)
    else:
        write_batch_dir(args.seed, args.out)


if __name__ == "__main__":
    main()
