"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
gives byte-identical inputs. The library only ever sees what these
write.
"""
import datetime
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- small files

TREE_START = datetime.datetime(2026, 1, 1)
EPOCH = datetime.datetime(1970, 1, 1)


def _hour_rel(hour_index):
    t = TREE_START + datetime.timedelta(hours=hour_index)
    return f"date={t:%Y-%m-%d}/hour={t:%H}"


def _write_files(root, rel, rng, n, first_seq, mtime_base):
    """Writes n tiny JSON files under root/rel with seeded payload sizes;
    their mtimes are a seeded permutation of mtime_base + 0..n-1 s, so
    mtime order differs from name order. Returns [(path, size)]."""
    d = os.path.join(root, rel)
    os.makedirs(d, exist_ok=True)
    sizes = rng.integers(40, 400, size=n)
    order = rng.permutation(n)
    out = []
    for i in range(n):
        seq = first_seq + i
        rec = {"seq": int(seq), "host": f"h{int(rng.integers(512)):03d}",
               "event": "flush" if seq % 3 == 0 else "tick",
               "payload": "x" * int(sizes[i])}
        path = os.path.join(d, f"ev-{seq:07d}.json")
        data = (json.dumps(rec, separators=(",", ":")) + "\n").encode()
        with open(path, "wb") as f:
            f.write(data)
        t = mtime_base + int(order[i])
        os.utime(path, (t, t))
        out.append((path, len(data)))
    return out


def smallfile_tree(root, n_files, files_per_hour, seed):
    """The base date=/hour= tree. Returns [(path, size)]."""
    rng = np.random.default_rng([seed, 1])
    mtime0 = int((TREE_START - EPOCH).total_seconds())
    files, h = [], 0
    while len(files) < n_files:
        n = min(files_per_hour, n_files - len(files))
        files += _write_files(root, _hour_rel(h), rng, n, len(files),
                              mtime0 + len(files))
        h += 1
    return files


def smallfile_deltas(staging, n_base, files_per_hour, n_deltas, delta_files, seed):
    """Deltas that land after the base tree: each is one newer hour
    directory, written under staging/d<i>/<rel> with mtimes after every
    earlier file. Returns [{"staging", "rel", "n_files", "files"}]."""
    rng = np.random.default_rng([seed, 2])
    mtime0 = int((TREE_START - EPOCH).total_seconds())
    first_hour = -(-n_base // files_per_hour)
    out, seq = [], n_base
    for i in range(n_deltas):
        n = int(delta_files + rng.integers(-delta_files // 10, delta_files // 10 + 1))
        rel = _hour_rel(first_hour + i)
        st = os.path.join(staging, f"d{i}")
        files = _write_files(st, rel, rng, n, seq, mtime0 + seq)
        # record where each file will sit once its delta has landed
        out.append({"staging": st, "rel": rel, "n_files": n,
                    "files": [(p.replace(st, "", 1).lstrip("/"), s) for p, s in files]})
        seq += n
    return out


# ------------------------------------------------------------------ documents

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _texts(rng, n):
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(len(VOCAB), size=int(lens.sum()))
    out, k = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[k:k + ln]))
        k += ln
    return out


def _near_dup(rng, text):
    """A re-crawl: the same page with one word changed and a suffix."""
    w = text.split()
    w[int(rng.integers(len(w)))] = VOCAB[int(rng.integers(len(VOCAB)))]
    return " ".join(w) + " dup"


def _docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def _write_split(table, d, n_files):
    os.makedirs(d, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"))


def day_corpus(work, n_base, n_days, day_docs, files_per_day, dup_exact, dup_near,
               lookups_per_day, seed):
    """Base half plus day slices of (doc_id, text). Each day's ids sit
    above every earlier id (above the committed horizon); a seeded share
    of each day re-crawls earlier docs exactly or nearly. Lookup ids are
    drawn over everything ingested by the end of that day.
    Returns (base_dir, [{"staging", "date", "lookups"}], budget): budget is
    the per-stratum token budget the production loop sizes from the
    corpus, 60% of the distinct texts' tokens over four strata, with
    tokens as graft.functions.TextFns.tokens splits them."""
    rng = np.random.default_rng([seed, 3])
    texts = _texts(rng, n_base)
    base = os.path.join(work, "docs", "base")
    _write_split(_docs_table(list(range(n_base)), texts), base, 10)
    days, next_id = [], n_base
    for k in range(n_days):
        n = day_docs
        t = _texts(rng, n)
        n_ex, n_nr = int(n * dup_exact), int(n * dup_near)
        src = rng.integers(len(texts), size=n_ex + n_nr)
        for j in range(n_ex):
            t[j] = texts[src[j]]
        for j in range(n_nr):
            t[n_ex + j] = _near_dup(rng, texts[src[n_ex + j]])
        perm = rng.permutation(n)
        t = [t[i] for i in perm]
        ids = list(range(next_id, next_id + n))
        texts += t
        next_id += n
        d = os.path.join(work, "docs", f"day{k}")
        _write_split(_docs_table(ids, t), d, files_per_day)
        days.append({"staging": d, "date": f"2026-09-{k + 2:02d}",
                     "lookups": [int(x) for x in rng.integers(next_id, size=lookups_per_day)]})
    tokens = sum(len([w for w in re.split("[^a-z0-9]+", t.lower()) if w]) for t in set(texts))
    return base, days, tokens * 6 // 10 // 4
