"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and, where an oracle
exists, the matching SQL on DuckDB over the same parquet tables; compares
row count, column names, and order-insensitive values (floats rounded to
9 DECIMAL PLACES — absolute, not relative: every oracle pre-rounds its
float outputs, so both sides land on identical decimals).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
A query is its full name or a unique short name such as ``q25``.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def norm_val(v):
    if v is None:
        return "\x00NULL"  # sortable alongside strings
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_val(x) for x in v)
    return v


def _sort_key(v):
    """Type-ranked sort key: normalized cells can mix strings (the NULL
    sentinel, 'NaN') with numbers across rows of one column — a bare
    sorted() would raise TypeError (str vs int) and crash the WHOLE gate
    instead of failing one query. Equality still compares the normalized
    values themselves; this key only makes ordering total."""
    if isinstance(v, bool):
        return (0, float(v))
    if isinstance(v, (int, float)):
        return (0, float(v))
    if isinstance(v, str):
        return (1, v)
    if isinstance(v, tuple):
        return (2, tuple(_sort_key(x) for x in v))
    return (3, str(v))


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda row: tuple(_sort_key(c) for c in row))


def resolve_names(args, names):
    """Map each argument to a query name: an exact name, or the one name
    it prefixes up to an underscore (``q25`` -> ``q25_...``). An unknown
    or ambiguous argument exits non-zero, so a typo'd filter can never
    check nothing and report success."""
    out, bad = set(), []
    for a in args:
        hits = ([a] if a in names
                else [n for n in names if n.startswith(a + "_")])
        if len(hits) == 1:
            out.add(hits[0])
        else:
            bad.append(f"{a}: ambiguous {hits}" if hits else f"{a}: unknown")
    if bad:
        raise SystemExit(f"bad query name(s): {'; '.join(bad)}; "
                         f"known: {sorted(names)}")
    return out


def main():
    # optional: --json PATH writes a driver-shaped per-query artifact
    # (CORRECTNESS_FULL.json, r5 VERDICT "next round" item 3) covering
    # the FULL contract, not just the driver's 50-query window
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else DEFAULT_SF_DIR

    from generative_ner_spark.plans.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    only = resolve_names(args[1:], qs)
    failures = []
    report = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL {name}: spark error {ex}")
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"SPARK ERROR: {ex}"[:500]}
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows")
            report[name] = {
                "rows_match": True, "schema_match": True,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None}
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL {name}: duckdb error {ex}")
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": f"DUCKDB ERROR: {ex}"[:500]}
            continue
        problems = []
        rows_match = len(srows) == len(drows)
        schema_match = sorted(scols) == sorted(dcols)
        hash_match = False
        if not rows_match:
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if not schema_match:
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            sk, dk = rows_key(srows, scols), rows_key(drows, dcols)
            hash_match = sk == dk
            if not hash_match:
                diff = [
                    (a, b) for a, b in zip(sk, dk) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(problems)[:500] if problems else None}
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows match oracle")

    print(f"\n{len(failures)} failures / {len(report)} queries run")
    if json_path is not None:
        import json

        with open(json_path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {json_path} ({len(report)} queries)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
