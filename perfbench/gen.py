"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different ones.  The
program under test only ever sees the files written here.

- ``write_months``: monthly clickstream CSVs in the reference's raw layout
  (``RAW_USER_EVENT_SCHEMA`` column order, ``yyyy-MM-dd HH:mm:ss UTC`` text
  timestamps, ``yyyy-LLL.csv`` names).  Each file holds only rows of its own
  UTC month.  Users are planted just before and just after every month
  boundary, some within the 5-minute session gap (their session must
  continue across the two monthly loads) and some beyond it, and in the
  last nine UTC hours of each month (rows that land in the next month's
  first KST date partition and must survive its dynamic overwrite).
- ``write_documents``: a ``documents`` parquet corpus (doc_id, text, lang,
  source, n_chars) with a planted share of exact duplicates, case and
  whitespace variants, and near duplicates a few word edits apart.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np

#: the first month of every ingest/wau input
FIRST_MONTH = "2019-10"

_EVENT_TYPES = np.array(["view", "cart", "remove_from_cart", "purchase"])
_EVENT_P = np.array([0.80, 0.10, 0.05, 0.05])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])


def _month_bounds(month: str) -> tuple[datetime, datetime]:
    start = datetime.strptime(month, "%Y-%m")
    end = (start.replace(day=28) + timedelta(days=5)).replace(day=1)
    return start, end


def months(n: int) -> list[str]:
    """``n`` consecutive months from ``FIRST_MONTH``, as ``yyyy-MM``."""
    out = [FIRST_MONTH]
    while len(out) < n:
        out.append(_month_bounds(out[-1])[1].strftime("%Y-%m"))
    return out


def month_filename(month: str) -> str:
    return datetime.strptime(month, "%Y-%m").strftime("%Y-%b.csv")


def _epoch(d: datetime) -> int:
    return int(d.replace(tzinfo=timezone.utc).timestamp())


def _month_events(
    rng: np.random.Generator,
    month: str,
    rows: int,
    users: int,
    head_users: np.ndarray,
    tail_users: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Epoch seconds and user ids of one month's events, in-month only.

    ``head_users`` act in the first 4 minutes of the month and
    ``tail_users`` in its last 4 minutes and last 9 hours."""
    start, end = _month_bounds(month)
    t0, t1 = _epoch(start), _epoch(end)
    # sessions: a user, a start instant and a run of events whose gaps are
    # mostly inside the 5-minute rule and sometimes beyond it
    n_sessions = max(1, rows // 6)
    length = rng.geometric(1 / 6, n_sessions)
    cs = np.cumsum(rng.exponential(90.0, int(length.sum())).astype(np.int64))
    first = np.repeat(np.cumsum(length) - length, length)
    ts = np.repeat(rng.integers(t0, t1, n_sessions), length) + cs - cs[first]
    uid = np.repeat(rng.integers(0, users, n_sessions), length)
    ts = np.concatenate(
        [
            ts,
            t0 + rng.integers(0, 240, len(head_users)),
            t1 - rng.integers(1, 240, len(tail_users)),
            t1 - rng.integers(240, 9 * 3600, len(tail_users)),
        ]
    )
    uid = np.concatenate([uid, head_users, tail_users, tail_users])
    keep = (ts >= t0) & (ts < t1)
    return ts[keep], uid[keep]


def _utc_text(ts: np.ndarray) -> np.ndarray:
    """Epoch seconds as ``yyyy-MM-dd HH:mm:ss UTC`` text, formatted on the
    bytes (several times faster than ``strftime``)."""
    iso = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s").astype("S19")
    out = np.empty((len(iso), 23), np.uint8)
    out[:, :19] = iso.view(np.uint8).reshape(-1, 19)
    out[:, 10] = ord(" ")
    out[:, 19:] = np.frombuffer(b" UTC", np.uint8)
    return out.view("S23").ravel().astype(str)


def _prefixed(prefix: str, ints: np.ndarray) -> np.ndarray:
    """``prefix`` followed by each integer in decimal."""
    import pandas as pd

    return (prefix + pd.Series(ints).astype(str)).to_numpy()


def write_months(out_dir: str, seed: int, n_months: int, rows_per_month: int, users: int) -> dict[str, str]:
    """Write one CSV for each of ``months(n_months)``; returns month -> path."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    # users planted at each month boundary: active in the last minutes of
    # the month before and the first minutes of the month after, 1-479 s
    # apart, so about half continue one session across the two loads
    plant = max(8, rows_per_month // 200)
    boundary = [rng.integers(0, users, plant) for _ in range(n_months + 1)]
    paths = {}
    for k, month in enumerate(months(n_months)):
        ts, uid = _month_events(rng, month, rows_per_month, users, boundary[k], boundary[k + 1])
        n = len(ts)
        product = rng.integers(0, 5000, n)
        brand = np.where(rng.random(n) < 0.3, "", _prefixed("b", product % 97))
        code = np.where(rng.random(n) < 0.25, "", _prefixed("cat.", product % 17))
        frame = pd.DataFrame(
            {
                "event_time": _utc_text(ts),
                "event_type": rng.choice(_EVENT_TYPES, n, p=_EVENT_P),
                "product_id": _prefixed("p", product),
                "category_id": _prefixed("c", product % 211),
                "category_code": code,
                "brand": brand,
                "price": rng.integers(1, 2000, n),
                "user_id": uid.astype(str),
                "user_session": _prefixed("s", rng.integers(0, 1 << 30, n)),
            }
        ).sort_values(["event_time", "user_id"], kind="mergesort")
        path = os.path.join(out_dir, month_filename(month))
        frame.to_csv(path, index=False, lineterminator="\n")
        paths[month] = path
    return paths


def write_documents(path: str, seed: int, docs: int, words: int) -> None:
    """Write the ``documents`` corpus: ~60 % originals, ~15 % exact copies,
    ~10 % case/whitespace variants, ~15 % near duplicates (1-3 word edits)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    syllables = np.array(["ka", "lo", "mi", "ne", "su", "ta", "ri", "vo", "ze", "pa", "du", "gi"])
    vocab = np.unique(
        ["".join(rng.choice(syllables, rng.integers(2, 4))) for _ in range(1500)]
    )
    texts: list[str] = []
    kinds = rng.choice(4, docs, p=[0.60, 0.15, 0.10, 0.15])
    for i in range(docs):
        kind = kinds[i] if i >= 8 else 0
        if kind == 0:
            n = int(rng.integers(words // 2, words * 3 // 2))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
            continue
        src = texts[int(rng.integers(0, i))]
        if kind == 1:
            texts.append(src)
        elif kind == 2:
            toks = src.split(" ")
            j = int(rng.integers(0, len(toks)))
            toks[j] = toks[j].upper()
            texts.append("  ".join(toks) + " ")
        else:
            toks = src.split(" ")
            for _ in range(int(rng.integers(1, 4))):
                j = int(rng.integers(0, len(toks)))
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, docs)),
            "source": pa.array([f"src{i % 7}" for i in range(docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
