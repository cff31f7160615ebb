"""Seeded input generators. The same seed always gives the same inputs.

- `corpus`: a document corpus with planted exact and near-duplicate
  clusters, for the dedup pipeline.
- `payments`: the reference's JSON payment messages with an open-loop
  schedule, a skewed `provinceId`, and a stated share sent beyond the
  15 s allowed delay.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n)]


def _texts(rng, n, vocab, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    flat = _choice(rng, vocab, int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(flat[i:i + k]))
        i += k
    return out


def corpus(out, seed, n_docs, exact_rate=0.02, near_rate=0.05, vocab=20000):
    """Write `documents.parquet` (the layout of graft's `documents` table), and
    its first fifth as `warm/documents.parquet` for warm-up passes, and
    return the planted truth: exact copies and near copies as
    (source, copy) doc-id pairs. A near copy replaces one word in
    twenty of its source, so its word-2-shingle Jaccard stays near 0.8.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    texts = [t.split(" ") for t in _texts(rng, n_docs, words, 30, 120)]
    order = rng.permutation(n_docs)
    n_exact, n_near = int(n_docs * exact_rate), int(n_docs * near_rate)
    exact, near = [], []
    # sources come from the first half of a permutation, copies from the
    # second half, so no copy is itself a source
    for src, dst in zip(order[:n_exact], order[n_docs // 2:n_docs // 2 + n_exact]):
        texts[dst] = list(texts[src])
        exact.append((int(min(src, dst)), int(max(src, dst))))
    srcs = order[n_exact:n_exact + n_near]
    dsts = order[n_docs // 2 + n_exact:n_docs // 2 + n_exact + n_near]
    for src, dst in zip(srcs, dsts):
        t = list(texts[src])
        for j in rng.choice(len(t), max(1, len(t) // 20), replace=False):
            t[j] = f"x{rng.integers(0, 10**6)}"
        texts[dst] = t
        near.append((int(min(src, dst)), int(max(src, dst))))
    joined = [" ".join(t) for t in texts]
    # several files, so the scan starts at full parallelism
    for d, n in ((out, n_docs), (f"{out}/warm", n_docs // 5)):
        os.makedirs(f"{d}/documents.parquet", exist_ok=True)
        for part in range(4):
            ids = np.arange(part, n, 4)
            _write(f"{d}/documents.parquet/part-{part}.parquet", {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [joined[i] for i in ids],
                "lang": ["en"] * len(ids),
                "source": [f"src{i % 20}" for i in ids],
                "n_chars": pa.array([len(joined[i]) for i in ids], pa.int64())})
    return {"exact": exact, "near": near, "texts": joined}


# ------------------------------------------------------------ payments

BASE_TIME = dt.datetime(2023, 9, 20, 10, 0, 0)
ALLOWED_DELAY_S = 15
WINDOW_S = 10


def schedule(rng, rate, seconds):
    """Open-loop send times (µs from the segment start) of a Poisson
    arrival process at `rate` messages per second over `seconds`:
    strictly increasing, so every message has its own event time.
    """
    n = int(rate * seconds * 1.2) + 10
    gaps = np.maximum(1, np.floor(rng.exponential(1e6 / rate, n))).astype(np.int64)
    t = np.cumsum(gaps)
    return t[t < seconds * 1e6]


def payments(rng, windows, rate, seconds, warm_s, late_share, backlog,
             drains, provinces=34, setup_msgs=50):
    """Messages in push order, as columns: window, segment, k, sched_us,
    event_us (event time, µs after BASE_TIME), order_id, cents,
    province, platform, late.

    On-time event times increase strictly across the whole stream, by
    1-2000 µs a message. A late message (only in `open` segments, never
    in the first window's warm-up, so the watermark has advanced)
    carries an event time 50-65 s behind the newest one. Spark drops a
    row against the watermark of the batch before the one that reads
    it, which can trail by one backlog (about 30 s of event time at
    30,000 messages), so 50 s keeps every late message beyond the 15 s
    allowed delay and the pipeline must drop it.
    """
    segs = [(0, "setup", 0, np.zeros(setup_msgs, np.int64))]
    for w in range(windows):
        if w == 0:
            segs.append((w, "warm", 0, schedule(rng, rate, warm_s)))
            segs.append((w, "warmdrain", 0, np.zeros(backlog, np.int64)))
        segs.append((w, "open", 0, schedule(rng, rate, seconds)))
        segs += [(w, "drain", k, np.zeros(backlog, np.int64)) for k in range(drains)]
    sched = np.concatenate([s for *_, s in segs])
    n = len(sched)
    is_open = np.concatenate([np.full(len(s), seg == "open") for _, seg, _, s in segs])
    late = is_open & (rng.random(n) < late_share)
    clock = np.cumsum(np.where(late, 0, 1 + rng.integers(0, 2000, n)))
    event = np.where(late, clock - (rng.uniform(50, 65, n) * 1e6).astype(np.int64), clock)
    zipf = 1.0 / np.arange(1, provinces + 1) ** 1.1
    return {
        "window": np.concatenate([np.full(len(s), w) for w, _, _, s in segs]),
        "segment": np.concatenate([np.full(len(s), seg, dtype=object)
                                   for _, seg, _, s in segs]),
        "k": np.concatenate([np.full(len(s), k) for _, _, k, s in segs]),
        "sched_us": sched, "event_us": event, "order_id": np.arange(n),
        "cents": rng.integers(1, 100_000, n),
        "province": rng.choice(provinces, n, p=zipf / zipf.sum()),
        "platform": rng.integers(0, 2, n), "late": late}


def write_payments(path, msgs):
    """One line per message: window, segment, k, sched_us, and the
    reference wire format (JSON) of the message.
    """
    t = np.datetime64(BASE_TIME, "us") + msgs["event_us"].astype("timedelta64[us]")
    stamps = np.char.replace(np.datetime_as_string(t, unit="us").astype(str), "T", " ")
    with open(path, "w", encoding="utf-8") as f:
        for i in range(len(stamps)):
            f.write(f"{msgs['window'][i]}\t{msgs['segment'][i]}\t{msgs['k'][i]}\t"
                    f"{msgs['sched_us'][i]}\t"
                    f'{{"createTime": "{stamps[i]}", "orderId": {msgs["order_id"][i]}, '
                    f'"payAmount": {msgs["cents"][i] / 100}, '
                    f'"payPlatform": {msgs["platform"][i]}, '
                    f'"provinceId": {msgs["province"][i]}}}\n')
