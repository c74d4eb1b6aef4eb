"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size): the same arguments
give the same bytes. Outputs are cached under the checkout's
``.bench_build/inputs`` directory, one directory per (kind, seed, size),
with a ``<dir>.manifest.json`` beside it holding a content hash of every
file. A cached
directory is reused only when its manifest still matches the files.

Kinds:
  tables  - the star schema plus ``events``, ``documents`` and
            ``embeddings``, one single-row-group parquet file per table,
            with the column types and value domains the engine's fixture
            tables have (see FIXTURES.md at the repository root).
  corpus  - a Zipf-distributed plain-text corpus of many files for the
            n-gram job, with the exact number of n-grams it holds.
  stream  - the ``events`` table of ``tables`` split into event-time
            ordered ``events_*.parquet`` files, with a few exact duplicate
            rows for the streaming dedup to remove.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table. "sf0.01" and "sf0.1" match the engine's fixture
# scale factors; "tiny" keeps the smoke tests fast.
TABLE_SIZES = {
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000, documents=200, embeddings=200),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, documents=500,
                   embeddings=500),
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, documents=5000,
                  embeddings=2000),
}

DOC_WORDS = ("a the data table query scan filter join hash sort merge agg "
             "group order line part customer key value row column window "
             "stream batch spark vector small big fast slow").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
NGRAM_N = 3


def _rng(seed, kind):
    """Independent stream per input kind, so adding one kind never
    shifts the bytes of another."""
    digest = hashlib.sha256(f"{kind}:{seed}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def _ts_us(base, seconds):
    return pa.array((np.datetime64(base, "us") +
                     (np.asarray(seconds) * 1e6).astype("int64").astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_columns(seed, size):
    """All tables of one (seed, size) as pyarrow Tables, keyed by name."""
    c = TABLE_SIZES[size]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = c["customer"]
    rng = _rng(seed, "tables:customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = c["supplier"]
    rng = _rng(seed, "tables:supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = c["part"]
    rng = _rng(seed, "tables:part")
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})
    n, n_orders = c["orders"], c["orders"]
    rng = _rng(seed, "tables:orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n) * 86400),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    n = c["lineitem"]
    rng = _rng(seed, "tables:lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n) * 86400)})
    out["events"] = events_table(seed, c["events"])
    out["documents"] = documents_table(_rng(seed, "tables:documents"), c["documents"])
    n = c["embeddings"]
    rng = _rng(seed, "tables:embeddings")
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return out


def events_table(seed, n):
    """Events about 26 s apart over roughly a month, in event-time order."""
    rng = _rng(seed, "tables:events")
    gaps = rng.exponential(30 * 86400 / n, n)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(1, int(n * 0.015)), n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents_table(rng, n):
    """Uniform-vocabulary documents; one in twenty repeats another
    document with a trailing "dup" token, so near-duplicate search has
    true pairs to find."""
    lens = rng.integers(10, 100, n)
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    langs = np.array(LANGS)[np.minimum(4, (rng.random(n) * 7.0).astype(int) - 2).clip(0)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(seed, size, out_dir):
    for name, t in table_columns(seed, size).items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {}


def corpus_words(seed, vocab_size=20000):
    """A seeded vocabulary of distinct lowercase words, 2-10 letters."""
    rng = _rng(seed, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, vocab = set(), []
    while len(vocab) < vocab_size:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 11)))])
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return vocab


def write_corpus(seed, size_mb, out_dir, files=32, zipf_s=1.1):
    """Zipf text over `files` files totalling about `size_mb` MB (a
    number or its string). Some
    words carry punctuation or a capital letter, which the engine's
    normalisation strips; no token is punctuation alone, so the token
    count per file is known exactly. Returns the exact number of
    NGRAM_N-grams (each file is one document)."""
    rng = _rng(seed, "corpus")
    vocab = np.array(corpus_words(seed))
    cap = np.char.capitalize(vocab)
    ranks = np.arange(1, len(vocab) + 1, dtype="float64")
    cdf = np.cumsum(ranks ** -zipf_s)
    cdf /= cdf[-1]
    per_file = int(float(size_mb) * 1e6 / files)
    total_ngrams = 0
    for f in range(files):
        # ~6.5 bytes per word including its separator
        n_words = int(per_file / 6.5 * rng.uniform(0.8, 1.2))
        idx = np.searchsorted(cdf, rng.random(n_words))
        toks = np.where(rng.random(n_words) < 0.05, cap[idx], vocab[idx])
        punct = rng.random(n_words)
        toks = np.where(punct < 0.04, np.char.add(toks, ","),
                        np.where(punct < 0.07, np.char.add(toks, "."), toks))
        lines = [" ".join(toks[i:i + 12]) for i in range(0, n_words, 12)]
        with open(os.path.join(out_dir, f"part-{f:05d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        total_ngrams += max(0, n_words - NGRAM_N + 1)
    return {"ngrams": total_ngrams, "n": NGRAM_N}


def write_stream(seed, size, out_dir, files=8):
    """The events of `size` split into `files` event-time ordered files.
    2% of rows are repeated, unchanged, in the same file as the original:
    on time for the watermark, so windowed counts still equal the batch
    answer, and removed by the streaming dedup."""
    rng = _rng(seed, "stream")
    ev = events_table(seed, TABLE_SIZES[size]["events"])
    n = ev.num_rows
    dup = np.sort(rng.choice(n, size=n // 50, replace=False))
    order = np.sort(np.concatenate([np.arange(n), dup]), kind="stable")
    ev = ev.take(pa.array(order))
    bounds = np.linspace(0, len(order), files + 1).astype(int)
    for i in range(files):
        _write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]),
               os.path.join(out_dir, f"events_{i:05d}.parquet"))
    # the same rows as one table, for the batch answer the stream must equal
    os.makedirs(os.path.join(out_dir, "batch"))
    _write(ev, os.path.join(out_dir, "batch", "events.parquet"))
    return {"rows": len(order), "distinct_events": n}


KINDS = {"tables": write_tables, "corpus": write_corpus, "stream": write_stream}


def _hash_dir(d):
    h = hashlib.sha256()
    for root, dirs, names in os.walk(d):
        dirs.sort()
        for name in sorted(names):
            rel = os.path.relpath(os.path.join(root, name), d)
            h.update(rel.encode() + b"\0")
            with open(os.path.join(root, name), "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def ensure(cache_root, kind, seed, size):
    """Return (directory, manifest) for the inputs of (kind, seed, size),
    generating them unless a complete cached copy exists."""
    d = os.path.join(cache_root, f"{kind}-s{seed}-{size}")
    # beside the directory, not in it: the n-gram job reads every file
    # of its input directory
    manifest_path = d + ".manifest.json"
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("sha256") == _hash_dir(d):
            return d, manifest
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    facts = KINDS[kind](seed, size, tmp)
    manifest = {"kind": kind, "seed": seed, "size": size, "facts": facts,
                "sha256": _hash_dir(tmp)}
    os.rename(tmp, d)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return d, manifest
