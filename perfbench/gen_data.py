"""Deterministic synthetic catalog tables for the catalog-core workload.

Writes lineitem, events, documents and embeddings as one-row-group parquet
files with the schemas the catalog queries read (see FIXTURES.md section A
of the repository). Everything is drawn from numpy's PCG64 seeded with the
workload seed, so the same seed always gives byte-identical tables.

Usage: python3 perfbench/gen_data.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
FLAGS = [("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")]


def sizes(sf):
    """Row counts per table; documents and embeddings have a floor of 500
    rows so the smallest scale still exercises every text and vector path."""
    return {
        "lineitem": int(round(6_000_000 * sf)),
        "events": int(round(1_000_000 * sf)),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
        "users": max(15, int(round(15_000 * sf))),
    }


def lineitem(rng, n):
    flag = rng.integers(0, len(FLAGS), n)
    base = np.datetime64("1995-01-02", "D")
    ship = base + rng.integers(0, 2498, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([FLAGS[i][0] for i in flag]),
        "l_linestatus": pa.array([FLAGS[i][1] for i in flag]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def events(rng, n, users):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    """Random-word documents; one in twenty repeats an earlier document's
    text with " dup" appended, so the near-duplicate queries find pairs."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    # One independent stream per table, so a table's content does not
    # depend on the row counts of the tables generated before it.
    streams = np.random.SeedSequence(seed).spawn(4)
    tables = {
        "lineitem": lambda r: lineitem(r, n["lineitem"]),
        "events": lambda r: events(r, n["events"], n["users"]),
        "documents": lambda r: documents(r, n["documents"]),
        "embeddings": lambda r: embeddings(r, n["embeddings"]),
    }
    for (name, make), ss in zip(tables.items(), streams):
        t = make(np.random.Generator(np.random.PCG64(ss)))
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"),
                       row_group_size=max(1, t.num_rows))


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
