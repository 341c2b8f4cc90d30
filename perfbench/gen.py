"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng([seed, stream])`` and
writes parquet with fixed writer options, so the same seed gives
byte-identical files and a different seed gives different ones
(``test_gen.py`` checks both). The engine under test only ever sees the
files written here.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MARKET, DOCS = 1, 2  # independent random streams per workload

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()

SESSION_OPEN_MIN = 9 * 60 + 15   # 09:15, the reference's default session
WINDOWS_PER_DAY = 75             # 09:15-15:30 in 5-minute windows
WINDOW_US = 300 * 1_000_000
TICKS_PER_SYMBOL = 100           # mean ticks per active symbol and window
SILENT_SHARE = 0.10              # symbols with no tick in a window (gap-fill)
BOUNDARY_SHARE = 0.01            # ticks stamped exactly on the window start
SHUFFLE_SHARE = 0.005            # ticks arriving after later-stamped ones
LATE_TAIL_US = 4_000_000         # ticks this close to the window end ...
LATE_P = 0.12                    # ... move to the next file with this probability


def write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


# ── market_live ────────────────────────────────────────────────────────────

def instruments():
    """The reference's 178-instrument universe: 175 stocks plus 3 indexes."""
    syms = [f"STK{i:03d}" for i in range(1, 176)] + ["NIFTY", "BANKNIFTY", "FINNIFTY"]
    toks = [str(1000 + 7 * i) for i in range(len(syms))]
    return syms, toks


def trading_days(first, n, holidays):
    days, d = [], first
    while len(days) < n:
        if d.weekday() < 5 and d.isoformat() not in holidays:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def market(seed, root, n_windows):
    """Stage one tick file per 5-minute window under ``root/stage``.

    Ticks are skewed across symbols (lognormal activity), SILENT_SHARE of
    the universe is silent in each window (gap-fill), SHUFFLE_SHARE of the
    ticks arrive out of timestamp order inside their file, and a share
    LATE_P of each window's last LATE_TAIL_US of ticks arrive in the NEXT
    window's file (late, but within the watermark delay). ``meta.json`` lists the symbols, the first
    session date and each file's window start. Returns the staged file paths
    in feed order.
    """
    rng = np.random.default_rng([seed, MARKET])
    syms, toks = instruments()
    n_sym = len(syms)
    os.makedirs(f"{root}/stage", exist_ok=True)
    write(pa.table({"symbol": syms, "token": toks, "segment": ["nse_cm"] * n_sym}),
          f"{root}/instruments.parquet")
    first = dt.date(2026, 2, 2)  # a Monday
    holidays = {"2026-02-04": "Benchmark Holiday"}
    n_days = (n_windows + WINDOWS_PER_DAY - 1) // WINDOWS_PER_DAY
    days = trading_days(first, n_days, holidays)
    with open(f"{root}/calendar.json", "w") as f:
        json.dump({"year": 2026,
                   "holidays": [{"date": d, "name": n} for d, n in holidays.items()],
                   # a special session outside the run keeps the calendar's
                   # shape (and its schema) the reference's
                   "special_sessions": [{"date": "2026-11-08", "name": "Muhurat Trading",
                                         "open": "18:15", "close": "19:45"}]}, f)

    activity = rng.lognormal(0.0, 0.8, n_sym)
    activity *= TICKS_PER_SYMBOL / activity.mean()
    price = np.round(rng.uniform(50, 5000, n_sym), 2)
    epoch = dt.datetime(1970, 1, 1)
    seq = 0
    carry = None  # late ticks moving into the next file
    paths, starts = [], []
    for w in range(n_windows):
        day = days[w // WINDOWS_PER_DAY]
        start = dt.datetime.combine(day, dt.time()) + dt.timedelta(
            minutes=SESSION_OPEN_MIN + 5 * (w % WINDOWS_PER_DAY))
        start_us = (start - epoch) // dt.timedelta(microseconds=1)
        starts.append(start.isoformat())
        active = rng.random(n_sym) >= SILENT_SHARE
        counts = np.where(active, np.maximum(1, rng.poisson(activity)), 0)
        sym = np.repeat(np.arange(n_sym), counts)
        n = len(sym)
        offs = rng.integers(0, WINDOW_US, n)
        offs[rng.random(n) < BOUNDARY_SHARE] = 0  # boundary ticks at exactly HH:MM:00
        ltp = np.round(price[sym] * np.exp(rng.normal(0.0, 0.002, n)), 2)
        ts = start_us + offs
        arrival = np.argsort(ts, kind="stable")
        # a few ticks arrive after later-stamped ticks of the same file
        pos = np.arange(n, dtype=np.float64)
        pos[rng.random(n) < SHUFFLE_SHARE] += 3.5
        arrival = arrival[np.argsort(pos, kind="stable")]
        sym, ts, ltp = sym[arrival], ts[arrival], ltp[arrival]
        by_sym = np.lexsort((ts, sym))
        last = np.r_[sym[by_sym][1:] != sym[by_sym][:-1], True]
        price[sym[by_sym][last]] = ltp[by_sym][last]
        # late arrivals move to the next file, well inside the streaming
        # query's 10 s watermark delay
        late = (ts >= start_us + WINDOW_US - LATE_TAIL_US) & (rng.random(n) < LATE_P)
        if w == n_windows - 1:
            late[:] = False
        keep = ~late
        parts_sym, parts_ts, parts_ltp = [sym[keep]], [ts[keep]], [ltp[keep]]
        if carry is not None:
            parts_sym.insert(0, carry[0]); parts_ts.insert(0, carry[1]); parts_ltp.insert(0, carry[2])
        carry = (sym[late], ts[late], ltp[late])
        s = np.concatenate(parts_sym)
        t = np.concatenate(parts_ts)
        p = np.concatenate(parts_ltp)
        m = len(s)
        tbl = pa.table({
            "tk": pa.array(np.array(toks)[s]),
            "ltp": pa.array(p, pa.float64()),
            "exchange_timestamp": pa.array(t, pa.timestamp("us", tz="UTC")),
            "seq": pa.array(np.arange(seq, seq + m), pa.int64()),
        })
        seq += m
        path = f"{root}/stage/w{w:05d}.parquet"
        write(tbl, path)
        paths.append(path)
    with open(f"{root}/meta.json", "w") as f:
        json.dump({"symbols": syms, "first_date": days[0].isoformat(),
                   "window_starts": starts}, f)
    return paths


# ── doc_ingest ─────────────────────────────────────────────────────────────

def corpus_texts(rng, n, dup_share=0.05):
    """Random-vocabulary documents of 10-99 words; ``dup_share`` of them
    copy an earlier document and append the word ``dup``."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.r_[0, np.cumsum(lens)]
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    for i in np.flatnonzero(rng.random(n) < dup_share):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def doc_batches(seed, root, history_batches, n_batches, batch_docs, planted_per_batch,
                corpus_docs=5000):
    """Write ``history_batches`` batches of already-indexed documents to
    ``root/history.parquet`` and stage ``n_batches`` more under
    ``root/stage``; returns the staged paths.

    Every batch samples the seeded corpus and interleaves its own batch
    token after every second word (batches are mutually dissimilar, as in
    DedupScaleCheck); batch b holds doc ids b * 1,000,000 + i, history
    batches first. Each staged batch also carries ``planted_per_batch``
    near-copies of earlier batches' documents, history included: the
    earlier text plus one word, so their word 5-gram Jaccard is >= 0.9.
    Writes ``planted.json`` ([[original, copy], ...]) and ``counts.json``
    (documents per staged batch).
    """
    rng = np.random.default_rng([seed, DOCS])
    corpus = corpus_texts(rng, corpus_docs)
    os.makedirs(f"{root}/stage", exist_ok=True)
    seen_ids, seen_texts, planted, paths, counts = [], [], [], [], []
    history = {"doc_id": [], "text": []}
    for b in range(history_batches + n_batches):
        pick = rng.choice(corpus_docs, batch_docs, replace=False)
        ids = [b * 1_000_000 + i for i in range(batch_docs)]
        texts = []
        for j in pick:
            w = corpus[j].split()
            out = []
            for k, word in enumerate(w):
                out.append(word)
                if k % 2 == 1:
                    out.append(f"batch{b}")
            texts.append(" ".join(out))
        if b >= history_batches and seen_ids and planted_per_batch:
            src = rng.choice(len(seen_ids), planted_per_batch, replace=False)
            for k, s in enumerate(src):
                cid = b * 1_000_000 + batch_docs + k
                ids.append(cid)
                texts.append(seen_texts[s] + " dup")
                planted.append([seen_ids[s], cid])
        if b < history_batches:
            history["doc_id"] += ids
            history["text"] += texts
        else:
            path = f"{root}/stage/b{b:04d}.parquet"
            write(pa.table({"doc_id": pa.array(ids, pa.int64()),
                            "text": pa.array(texts, pa.string())}), path)
            paths.append(path)
            counts.append(len(ids))
        seen_ids += ids
        seen_texts += texts
    write(pa.table({"doc_id": pa.array(history["doc_id"], pa.int64()),
                    "text": pa.array(history["text"], pa.string())}), f"{root}/history.parquet")
    with open(f"{root}/planted.json", "w") as f:
        json.dump(planted, f)
    with open(f"{root}/counts.json", "w") as f:
        json.dump(counts, f)
    return paths
