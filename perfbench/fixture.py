"""Fixture tables for the query workload and their DuckDB oracle answers.

The tables have the shape of the scale-factor-0.1 test tables the
``__spark_entry__`` queries run on (``documents`` 5000 rows over a 30-word
vocabulary with 250 near-duplicate copies, ``events`` 100k rows over 1500
users and 30 days). They are synthesized once
per checkout under ``perfbench/.data/`` from a fixed seed; the workload seed
only orders the operations, so every run queries the same tables and the
oracle answers are computed once and cached next to them.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1  # bump when the tables below change: cached data is keyed by it
SEED = 20240101
ROWS = {"documents": 5000, "events": 100_000}
TABLES = tuple(ROWS)
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _documents(rng: np.random.Generator, n: int = ROWS["documents"], n_dups: int = 250) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # near duplicates: a copy of another document with one token appended
    for i in np.sort(rng.choice(n, n_dups, replace=False)):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    langs = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int = ROWS["events"]) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)].tolist(), pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def ensure_tables(data_dir: str) -> str:
    """Return the fixture table directory, synthesizing it on first use."""
    out = os.path.join(data_dir, f"sf0.1-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(SEED)
    for name, make in (("documents", _documents), ("events", _events)):
        pq.write_table(make(rng), os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


def ensure_oracles(data_dir: str, sf_dir: str, sql: dict[str, str]) -> dict:
    """DuckDB answers for ``sql`` (name -> query) over the fixture tables,
    cached per query text; returns name -> pandas DataFrame."""
    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    out, con = {}, None
    try:
        for name, text in sorted(sql.items()):
            key = hashlib.sha256(f"{sf_dir}\n{text}".encode()).hexdigest()[:16]
            path = os.path.join(cache, f"{name}-{key}.parquet")
            if not os.path.exists(path):
                if con is None:
                    import duckdb

                    con = duckdb.connect()
                    con.execute("SET enable_progress_bar = false")
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
                # through pandas, as the oracle gate reads them: DECIMAL
                # columns arrive as float64 there
                tbl = pa.Table.from_pandas(con.execute(text).fetchdf(), preserve_index=False)
                pq.write_table(tbl, path + ".tmp")
                os.rename(path + ".tmp", path)
            out[name] = pq.read_table(path).to_pandas()
    finally:
        if con is not None:
            con.close()
    return out
