"""Output checks. Each returns a list of failure strings (empty = pass);
run.py counts every failed check in `failed` and in error_rate."""
import glob
import gzip
import hashlib
import math
import os
from urllib.parse import urlparse

import duckdb
import pyarrow.dataset as ds


def local_path(uri):
    return urlparse(uri).path if uri.startswith("file:") else uri


def data_files(d, suffix):
    return sorted(p for p in glob.glob(os.path.join(d, "**", "*" + suffix), recursive=True)
                  if not any(part.startswith(("_", ".")) for part in
                             os.path.relpath(p, d).split(os.sep)))


# ----------------------------------------------------------- smallfile_compact

def bundles_hold_every_file(bundles_dir, expected):
    """Every input file is in exactly one bundle, byte for byte.
    expected: {path: bytes}."""
    files = data_files(bundles_dir, ".parquet")
    if not files:
        return [f"no bundle files under {bundles_dir}"]
    t = ds.dataset(files, format="parquet").to_table(columns=["path", "content"])
    seen = {}
    for p, c in zip(t.column("path").to_pylist(), t.column("content").to_pylist()):
        p = local_path(p)
        seen.setdefault(p, []).append(c)
    errs = []
    missing = [p for p in expected if p not in seen]
    if missing:
        errs.append(f"{len(missing)} input files in no bundle, e.g. {missing[0]}")
    twice = [p for p, cs in seen.items() if len(cs) > 1]
    if twice:
        errs.append(f"{len(twice)} input files bundled more than once, e.g. {twice[0]}")
    foreign = [p for p in seen if p not in expected]
    if foreign:
        errs.append(f"{len(foreign)} bundled paths are not inputs, e.g. {foreign[0]}")
    wrong = [p for p, cs in seen.items() if p in expected and cs[0] != expected[p]]
    if wrong:
        errs.append(f"{len(wrong)} bundled records differ from their file, e.g. {wrong[0]}")
    return errs


def passes_bundle_each_delta(cycle, deltas):
    """Each incremental pass bundles exactly its delta's files and the
    no-op pass bundles none."""
    errs = []
    for rec, d in zip(cycle.get("incremental", []), deltas):
        if rec["files"] != d["n_files"]:
            errs.append(f"pass after {d['rel']} bundled {rec['files']} files, "
                        f"{d['n_files']} landed")
    if len(cycle.get("incremental", [])) != len(deltas):
        errs.append("an incremental pass did not complete")
    if cycle.get("noop_files", -1) != 0:
        errs.append(f"no-op pass bundled {cycle.get('noop_files')} files")
    return errs


def lake_holds_every_text_bundle(text_dir, lake_dir):
    """The flushed lake holds every text bundle once, with its text."""
    bundles = data_files(text_dir, ".gz")
    if not bundles:
        return [f"no text bundles under {text_dir}"]
    flushed = data_files(lake_dir, ".parquet")
    if not flushed:
        return [f"no flushed files under {lake_dir}"]
    t = ds.dataset(flushed, format="parquet").to_table(columns=["src_path", "content"])
    got = {}
    for p, c in zip(t.column("src_path").to_pylist(), t.column("content").to_pylist()):
        got.setdefault(local_path(p), []).append(c)
    errs = []
    for b in bundles:
        with open(b, "rb") as f:
            text = gzip.decompress(f.read()).decode()
        rows = got.get(b, [])
        if len(rows) != 1:
            errs.append(f"text bundle {b} flushed {len(rows)} times")
        elif rows[0] != text:
            errs.append(f"text bundle {b} flushed with different content")
    extra = set(got) - set(bundles)
    if extra:
        errs.append(f"{len(extra)} flushed rows from unknown bundles")
    return errs


# -------------------------------------------------------------------- day_loop

def maintain_rewrites_only_new(days):
    return [f"day {d['date']}: maintain rewrote {d.get('rewritten')}"
            for d in days if d.get("rewritten") != [f"date={d['date']}"]]


def lookups_return_one_row(days):
    return [f"day {d['date']}: lookup of {lk['id']} returned {lk['rows']} rows"
            for d in days for lk in d["lookups"] if lk["rows"] != 1]


def rows_equal(dir_a, dir_b):
    """Row-multiset equality of two parquet outputs."""
    try:
        a, b = output_hash(dir_a), output_hash(dir_b)
    except Exception as e:  # a missing or unreadable output is a failed check
        return [f"cannot read outputs: {e}"]
    return [] if a == b else [f"{dir_a} and {dir_b} differ"]


def canonical_hash(df):
    """Order-free hash of a pandas frame: columns by name, rows sorted.
    Doubles compare exactly, everything else by str()."""
    cols = sorted(df.columns)

    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def output_hash(d):
    con = duckdb.connect()
    try:
        return canonical_hash(con.execute(
            f"SELECT * FROM read_parquet('{d}/*.parquet')").df())
    finally:
        con.close()
