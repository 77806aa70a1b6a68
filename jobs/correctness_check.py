"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry AND its oracle_sql() twin on the same
parquet tables at sf0.01, compare row count, schema (column names),
and a value hash with columns sorted by name — the same protocol the
driver records in CORRECTNESS_r{N}.json. Exists so a round can verify
the full 50-query matrix locally before the driver does.

Usage: python jobs/correctness_check.py [--sf-dir /root/testdata/sf0.01]
       [--only q1,q2,...]
Prints one JSON line per query plus a summary; exit 1 on any mismatch
or when no query ran (an --only filter that matches nothing).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "asDict"):
        # a Spark struct (Row is a tuple): hash it like DuckDB's dict
        return _norm_cell(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{_norm_cell(v[k])}" for k in sorted(v)
        ) + "}"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from crawlspark.session import get_spark

    spark = get_spark("correctness-check", cores=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(args.sf_dir, t)}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        res = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "err": None,
        }
        try:
            sdf = fn(spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rel = con.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            res["spark_rows"], res["oracle_rows"] = len(srows), len(orows)
            res["rows_match"] = len(srows) == len(orows)
            res["schema_match"] = sorted(scols) == sorted(ocols)
            res["hash_match"] = value_hash(scols, srows) == value_hash(
                ocols, orows
            )
        except Exception as e:  # noqa: BLE001 — recorded per query
            res["err"] = f"{type(e).__name__}: {e}"[:300]
        results[name] = res
        ok = all((res["rows_match"], res["schema_match"], res["hash_match"]))
        print(json.dumps({"q": name, "ok": ok, **res}), flush=True)

    n_ok = sum(
        1 for r in results.values()
        if r["rows_match"] and r["schema_match"] and r["hash_match"]
    )
    print(json.dumps({"summary": f"{n_ok}/{len(results)} pass"}))
    # an --only filter matching no query checked nothing: fail
    sys.exit(0 if results and n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
