"""``__spark_entry__.queries()`` entries on an emptied input table.

Each case copies the sf0.001 tables into ``tmp_path``, empties one, and
compares the query with its DuckDB oracle the way scripts/check_oracles.py
does: same column names, same normalized rows (here: none).
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

import __spark_entry__ as entrymod
from scripts.check_oracles import DEFAULT_SF_DIR, TABLES, rows_key


@pytest.mark.parametrize("query,table", [
    ("q17_cosine_topk", "embeddings"),
    ("q18_ann_lsh_topk", "embeddings"),
    ("q29_ivf_topk", "embeddings"),
    ("q50_incremental_dedup", "documents"),
])
def test_query_on_emptied_table_matches_oracle(spark, tmp_path, query, table):
    con = duckdb.connect()
    for t in TABLES:
        src, dst = f"{DEFAULT_SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet"
        if t == table:
            con.execute(f"COPY (SELECT * FROM '{src}' LIMIT 0) "
                        f"TO '{dst}' (FORMAT parquet)")
        else:
            shutil.copy(src, dst)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}'")
    sdf = entrymod.queries()[query](spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(entrymod.oracle_sql()[query])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert rows_key(srows, sdf.columns) == rows_key(drows, dcols)
