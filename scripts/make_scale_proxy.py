"""Build an sf1.0-SIZED timing proxy from the read-only sf0.1 tables.

The driver's round-5 measurement ran at a driver-generated sf1.0 that no
longer exists on disk (the sandbox was reset between sessions). For
optimization A/Bs we only need a dataset of the same SHAPE and VOLUME —
never oracle correctness, which is always checked on the real
sf0.001/sf0.01/sf0.1 trees. This script replicates every sf0.1 table
``xN`` (default 10) with:

- key-space offsets per copy (referential integrity preserved: lineitem
  -> orders -> customer, lineitem -> part/supplier, events.user_id);
- per-copy CHARACTER NOISE in documents.text (one copy-specific char
  inserted every 13 chars): copies of a document share almost no k-char
  shingles, so the dedup/minhash/LSH families see a naturally-scaled
  corpus, not an artificial 10-way duplicate cluster per doc;
- per-copy cyclic rotation of embeddings (norms preserved, cosine to the
  original destroyed) for the same reason on the vector families;
- dimension tables (region, nation) left as-is.

Usage: python scripts/make_scale_proxy.py [--out /root/sfproxy1.0] [--n 10]
Timing-only scaffolding: nothing in the repo reads this path by default.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def _offset(col: pa.ChunkedArray, off: int) -> pa.Array:
    import pyarrow.compute as pc

    return pc.add(col, pa.scalar(off, type=col.type))


def _noise_text(texts, i: int):
    if i == 0:
        return texts
    c = chr(ord("a") + (i % 26))
    out = []
    for t in texts:
        s = t.as_py()
        if s is None:
            out.append(None)
            continue
        out.append(c.join(s[j:j + 13] for j in range(0, len(s), 13)))
    return pa.array(out, type=pa.string())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/sfproxy1.0")
    ap.add_argument("--n", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    tables = {
        name: pq.read_table(os.path.join(SRC, f"{name}.parquet"))
        for name in [
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ]
    }
    # key-space strides: one past the max of each key domain
    import pyarrow.compute as pc

    stride = {
        "orderkey": pc.max(tables["orders"]["o_orderkey"]).as_py() + 1,
        "custkey": pc.max(tables["customer"]["c_custkey"]).as_py() + 1,
        "partkey": pc.max(tables["part"]["p_partkey"]).as_py() + 1,
        "suppkey": pc.max(tables["supplier"]["s_suppkey"]).as_py() + 1,
        "docid": pc.max(tables["documents"]["doc_id"]).as_py() + 1,
        "vecid": pc.max(tables["embeddings"]["vec_id"]).as_py() + 1,
        "eventid": pc.max(tables["events"]["event_id"]).as_py() + 1,
        "userid": pc.max(tables["events"]["user_id"]).as_py() + 1,
    }

    key_map = {
        "customer": {"c_custkey": "custkey"},
        "supplier": {"s_suppkey": "suppkey"},
        "part": {"p_partkey": "partkey"},
        "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
        "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey",
                     "l_suppkey": "suppkey"},
        "events": {"event_id": "eventid", "user_id": "userid"},
        "documents": {"doc_id": "docid"},
        "embeddings": {"vec_id": "vecid"},
    }

    # characters _noise_text inserts into each text, one between each pair
    # of 13-char chunks: computed once, NULL and empty texts get none
    text_len = pc.fill_null(
        pc.utf8_length(tables["documents"]["text"].combine_chunks()), 0)
    inserted = pc.max_element_wise(
        pc.subtract(pc.divide(pc.add(text_len, 12), 13), 1), 0)

    for name in ["region", "nation"]:
        pq.write_table(tables[name], os.path.join(args.out, f"{name}.parquet"))

    for name, keys in key_map.items():
        t = tables[name]
        copies = []
        for i in range(args.n):
            cols = {}
            for field in t.schema.names:
                col = t[field]
                if field in keys:
                    cols[field] = _offset(
                        col.combine_chunks(), i * stride[keys[field]])
                elif name == "documents" and field == "text":
                    cols[field] = _noise_text(col.combine_chunks(), i)
                elif name == "documents" and field == "n_chars" and i > 0:
                    # keep n_chars consistent with the noised text; a NULL
                    # n_chars stays NULL
                    cols[field] = pc.add(col.combine_chunks(),
                                         pc.cast(inserted, col.type))
                elif name == "embeddings" and field == "embedding" and i > 0:
                    vecs = col.combine_chunks()
                    rolled = [
                        None if v.as_py() is None
                        else list(np.roll(np.asarray(v.as_py(),
                                                     dtype=np.float32), i))
                        for v in vecs
                    ]
                    cols[field] = pa.array(
                        rolled, type=pa.list_(pa.float32()))
                else:
                    cols[field] = col.combine_chunks()
            copies.append(pa.table(cols, schema=None))
        big = pa.concat_tables(copies)
        pq.write_table(big, os.path.join(args.out, f"{name}.parquet"),
                       row_group_size=1_000_000)
        print(name, big.num_rows)


if __name__ == "__main__":
    main()
