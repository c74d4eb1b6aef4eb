"""Output checks made from outside the engine.

Query outputs are compared with DuckDB running each query's oracle SQL
over the same parquet inputs: both sides are reduced to one canonical
text form (columns sorted by name, rows in output order, every cell as
its string) and compared by SHA-256. The oracle's hash is cached per
input fingerprint and SQL text, so a repeated seed skips DuckDB.
"""

import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def frame_sha256(df):
    df = df.reindex(sorted(df.columns), axis=1)
    h = hashlib.sha256("\t".join(df.columns).encode())
    for row in df.astype(str).itertuples(index=False, name=None):
        h.update(b"\n" + "\t".join(row).encode())
    return h.hexdigest(), len(df)


def _connect(table_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_queries(names, oracle_sql, table_dir, input_sha, out_dir, cache_path):
    """{query: None when correct, else the reason}. A query whose Spark
    output is missing, whose oracle hash differs, or (for a `*_bound`
    query) that returned any row, is wrong. Queries without an oracle
    must have run and returned rows."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    con = None
    verdicts = {}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            verdicts[name] = "no output (the query failed)"
            continue
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{os.path.join(out_dir, name)}/*.parquet')").fetchdf()
        got_sha, got_rows = frame_sha256(got)
        if name.endswith("_bound") and got_rows:
            verdicts[name] = f"bound check returned {got_rows} rows"
            continue
        sql = oracle_sql.get(name)
        if sql is None:
            verdicts[name] = None if got_rows else "no rows"
            continue
        key = hashlib.sha256(f"{input_sha}\0{name}\0{sql}".encode()).hexdigest()
        if key not in cache:
            con = con or _connect(table_dir)
            cache[key] = frame_sha256(con.execute(sql).fetchdf())
        want_sha, want_rows = cache[key]
        verdicts[name] = None if got_sha == want_sha else (
            f"output differs from the oracle ({got_rows} rows, oracle {want_rows})")
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, cache_path)
    return verdicts


def check_ngram_output(out_dir, want_ngrams):
    """(sha256 of the part files in order, None or the reason it is
    wrong). The parts must concatenate to `key\\tcount` lines with keys
    strictly increasing (globally sorted and unique) and counts summing
    to the generator's exact n-gram total."""
    parts = sorted(p for p in os.listdir(out_dir) if p.startswith("part-"))
    h = hashlib.sha256()
    prev, total, lines = None, 0, 0
    for p in parts:
        with open(os.path.join(out_dir, p), "rb") as fh:
            data = fh.read()
        h.update(data)
        for line in data.decode().splitlines():
            key, _, cnt = line.rpartition("\t")
            if prev is not None and key <= prev:
                return h.hexdigest(), f"keys out of order or repeated at {key!r}"
            prev = key
            total += int(cnt)
            lines += 1
    if total != want_ngrams:
        return h.hexdigest(), f"counts sum to {total}, the corpus holds {want_ngrams}"
    if lines == 0:
        return h.hexdigest(), "empty output"
    return h.hexdigest(), None
