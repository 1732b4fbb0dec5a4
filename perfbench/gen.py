"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical inputs. The engine only ever sees these files.

Input properties (recorded in the result's provenance):

candle
  events    10,000 rows, 150 keys with rank^-0.5 key skew, 30 days of
            2024-01, 2% re-deliveries of a (key, minute) with a later
            event id (the FINAL read's last-writer-wins case).
  ticks     12 symbols x 480 minutes; every symbol ticks at least once a
            minute (heartbeat) plus Poisson extras at 6/rank per minute
            (Zipf skew); 3% duplicate deliveries, 2% late ticks (20-45 s
            behind, inside the 2-minute watermark); 6 planted gaps of
            3-10 minutes; delivered in 4 files in arrival order.

corpus_dedup
  documents 500 docs over a 40-word vocabulary, 8-90 words each; 10%
            near-duplicates (1-3 word edits) and 3% exact copies, each of
            an original document.
  new_docs  12 slices x 20 new docs (ids from 1e9), 30% near-copies of
            original base docs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the batch part spark line column order small sort fast value scan "
         "stream filter big merge group key hash table query agg join vector "
         "slow customer time window index cache store read write page node "
         "shard plan cost").split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(base, micros):
    return pa.array(base + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def candle(seed, out):
    rng = np.random.default_rng([seed, 1])
    # ---- events: the table the read queries run over
    n, users = 10_000, 150
    w = 1.0 / np.arange(1, users + 1) ** 0.5
    uid = rng.choice(users, size=n, p=w / w.sum())
    span_us = 30 * 86_400 * 1_000_000
    ts = rng.integers(0, span_us, size=n)
    redo = rng.choice(n, size=n // 50, replace=False)
    uid = np.concatenate([uid, uid[redo]])
    minute = ts[redo] // 60_000_000 * 60_000_000
    ts = np.concatenate([ts, minute + rng.integers(0, 60_000_000, size=redo.size)])
    order = np.argsort(ts, kind="stable")
    uid, ts = uid[order], ts[order]
    m = uid.size
    events = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us"), ts),
        "user_id": pa.array(uid.astype(np.int64)),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], m)),
        "value": pa.array(np.round(rng.gamma(2.0, 60.0, m), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)]),
    })
    _write(events, os.path.join(out, "events.parquet"))

    # ---- ticks: the stream the backfill lands
    syms, minutes = 12, 480
    rate = 6.0 / np.arange(1, syms + 1)
    gaps, busy = [], {}
    while len(gaps) < 6:
        s = int(rng.integers(0, syms))
        start = int(rng.integers(10, minutes - 30))
        length = int(rng.integers(3, 11))
        taken = busy.setdefault(s, set())
        window = set(range(start - 1, start + length + 1))
        if window & taken:
            continue
        taken |= window
        gaps.append((s, start, length))
    silent = {(s, mi) for s, a, ln in gaps for mi in range(a, a + ln)}
    sym, tmin = [], []
    for s in range(syms):
        for mi in range(minutes):
            if (s, mi) in silent:
                continue
            k = 1 + rng.poisson(rate[s])
            sym += [s] * k
            tmin += [mi] * k
    sym = np.array(sym)
    t_us = np.array(tmin, dtype=np.int64) * 60_000_000 + rng.integers(0, 60_000_000, len(tmin))
    k = sym.size
    price = np.empty(k)
    for s in range(syms):
        idx = np.where(sym == s)[0]
        idx = idx[np.argsort(t_us[idx])]
        walk = 100 + 40 * s + np.cumsum(rng.normal(0, 0.2, idx.size))
        price[idx] = np.round(np.maximum(walk, 1.0), 2)
    trade = np.arange(k, dtype=np.int64)
    delay = rng.uniform(0, 1_000_000, k)
    late = rng.random(k) < 0.02
    delay[late] = rng.uniform(20e6, 45e6, late.sum())
    dup = rng.choice(k, size=int(k * 0.03), replace=False)
    rows = np.concatenate([np.arange(k), dup])
    arrive = np.concatenate([t_us + delay, t_us[dup] + delay[dup] + rng.uniform(0, 20e6, dup.size)])
    rows = rows[np.argsort(arrive, kind="stable")]
    t0 = np.datetime64("2024-03-01T00:00:00", "us")
    os.makedirs(os.path.join(out, "ticks"), exist_ok=True)
    for i, part in enumerate(np.array_split(rows, 4)):
        _write(pa.table({
            "symbol": pa.array([f"S{s:02d}" for s in sym[part]]),
            "trade_id": pa.array(trade[part]),
            "ts": _ts(t0, t_us[part]),
            "price": pa.array(price[part]),
        }), os.path.join(out, "ticks", f"part-{i:02d}.parquet"))

    def iso(mi):
        return (dt.datetime(2024, 3, 1) + dt.timedelta(minutes=mi)).strftime("%Y-%m-%d %H:%M:%S")
    planted = ";".join(f"S{s:02d},{iso(a)},{iso(a + ln - 1)},{ln}" for s, a, ln in sorted(gaps))
    with open(os.path.join(out, "ticks.properties"), "w") as f:
        f.write(f"offered={rows.size}\nticks={k}\nmax_ts_us={int(t0.astype('int64')) + int(t_us.max())}\n"
                f"gaps={planted}\n")
    return {"events_rows": m, "event_keys": users, "key_skew": "rank^-0.5",
            "redelivered_share": 0.02, "ticks": int(k), "tick_deliveries": int(rows.size),
            "symbols": syms, "minutes": minutes, "duplicate_share": 0.03,
            "late_share": 0.02, "planted_gaps": len(gaps), "tick_files": 4}


def _doc(rng, lo=8, hi=90):
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi + 1))))


def _edit(rng, text):
    toks = text.split()
    for _ in range(int(rng.integers(1, 4))):
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
    return " ".join(toks)


def corpus(seed, out):
    rng = np.random.default_rng([seed, 2])
    n = 500
    # copies are made of originals only, so every duplicate group is a
    # star and the group structure (and the connected-components rounds
    # it costs) does not drift with the seed
    texts, originals = [], []
    for i in range(n):
        r = rng.random()
        if originals and r < 0.03:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif originals and r < 0.13:
            texts.append(_edit(rng, texts[originals[int(rng.integers(0, len(originals)))]]))
        else:
            originals.append(i)
            texts.append(_doc(rng))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 14, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out, "documents.parquet"))

    slices, per = 12, 20
    sl, ids, new = [], [], []
    for s in range(slices):
        for j in range(per):
            sl.append(s)
            ids.append(1_000_000_000 + s * per + j)
            src = originals[int(rng.integers(0, len(originals)))]
            new.append(_edit(rng, texts[src]) if rng.random() < 0.3 else _doc(rng))
    _write(pa.table({
        "slice": pa.array(np.array(sl, dtype=np.int32)),
        "doc_id": pa.array(np.array(ids, dtype=np.int64)),
        "text": pa.array(new),
    }), os.path.join(out, "new_docs.parquet"))
    return {"docs": n, "vocab": len(VOCAB), "near_dup_share": 0.10, "exact_dup_share": 0.03,
            "fold_slices": slices, "slice_docs": per, "slice_near_dup_share": 0.3}


GENERATORS = {"candle": candle, "corpus_dedup": corpus}
