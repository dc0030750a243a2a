"""Seeded input tables for the benchmark.

Every table has the schema of the engine's testdata layout
(``<dir>/<name>.parquet``), so the engine reads it through its own
``adapters.testdata`` and ``sources.readers.load_table`` and sees nothing
but these files.  The same seed gives byte-identical files.

- ``events`` is the wallet log of the 5-minute cycles: ``wave_rows`` rows
  in each of ``N_WAVES`` consecutive 5-minute waves from a start in
  2024-01 the seed picks (see :func:`start_for`), plus two rows planted
  in the held-back head of wave ``LATE_AFTER``;
- ``documents`` mixes fresh docs, near-duplicates of fresh docs and a
  shared boilerplate span, so every curation stage has work.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (``wave_rows`` per 5-minute wave); ``smoke`` is the
#: sf0.001-sized variant the tests use
SIZES = {
    "bench": {"documents": 150, "wave_rows": 40},
    "smoke": {"documents": 80, "wave_rows": 10},
}
N_WAVES = 12  # 5-minute waves staged; a run releases as many as it has time for
LATE_AFTER = 0  # the wave whose first LATE_S seconds are held back and released with the next one
LATE_S = 120
FMT = "%Y-%m-%d %H:%M:%S"

EVENT_TYPES = np.array(["signup", "purchase", "view", "click"])  # no "error": every row is a SUCCESS trade

_VOCAB = (
    "the a fast slow key order sort table scan merge part join filter window row stream "
    "customer value index page cache log batch query plan shuffle state commit offset "
    "partition file write read column schema type record event time watermark late "
    "update mode sink source trigger epoch task stage job driver executor memory disk "
    "network byte block hash tree heap queue lock thread process signal error retry "
    "report summary daily hourly monthly player game site platform country register "
    "risk profit bet win fee refund bonus jackpot rank leaderboard robot alert threshold"
).split()
_BOILERPLATE = "all rights reserved terms of service apply see the privacy notice for details".split()


def start_for(seed: int) -> str:
    """Start of wave 0: five minutes before an hour of 2024-01 picked by
    ``seed``, so the first cycle's mark (the warm-up) is an hour mark."""
    rng = np.random.default_rng([seed, 1])
    start = datetime(2024, 1, 1, 0, 55) + timedelta(days=int(rng.integers(0, 28)), hours=int(rng.integers(0, 20)))
    return start.strftime(FMT)


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _events(rng: np.random.Generator, per_wave: int, start: str) -> pa.Table:
    t0 = np.datetime64(start.replace(" ", "T"), "us")
    offs = rng.integers(0, 300 * 10**6, (N_WAVES, per_wave)) + (np.arange(N_WAVES) * 300 * 10**6)[:, None]
    planted = LATE_AFTER * 300 * 10**6 + np.array([30, 90]) * 10**6
    ts = t0 + np.sort(np.concatenate([offs.ravel(), planted])).astype("timedelta64[us]")
    n = len(ts)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k":{int(k)}}}' for k in rng.integers(0, 9, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Fresh docs, some with a shared boilerplate span or degenerate
    (repetitive) text, and near-duplicates that copy a fresh doc and
    change one word.  Near-dup components are therefore stars around a
    fresh doc, whatever the seed, so the component search runs the same
    number of rounds on every seed."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    fresh: list[int] = []
    for i in range(n):
        roll = rng.random()
        if len(fresh) > 10 and roll < 0.3:  # near-duplicate of a fresh doc
            words = texts[fresh[int(rng.integers(0, len(fresh)))]].split()
            words[int(rng.integers(0, len(words)))] = "edited"
        else:
            fresh.append(i)
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(40, 95)))])
            if roll > 0.85:  # degenerate, repetitive doc (fails the quality filters)
                words = words[:4] * 12
            elif rng.random() < 0.3:  # cross-doc boilerplate span
                cut = int(rng.integers(0, len(words)))
                words = words[:cut] + _BOILERPLATE + words[cut:]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(["en", "es", "de", "fr"])[rng.integers(0, 4, n)]),
            "source": pa.array(np.array(["src0", "src1", "src2"])[rng.integers(0, 3, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def stage(out_dir: str, seed: int, size: str = "bench") -> str:
    """Write every input table for ``seed`` under ``out_dir`` and return
    the start of wave 0.  Deterministic: the same seed and size give
    byte-identical files."""
    n = SIZES[size]
    start = start_for(seed)
    os.makedirs(out_dir, exist_ok=True)
    _write(_events(np.random.default_rng([seed, 3]), n["wave_rows"], start), out_dir, "events")
    _write(_documents(np.random.default_rng([seed, 6]), n["documents"]), out_dir, "documents")
    return start
