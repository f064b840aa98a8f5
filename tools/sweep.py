#!/usr/bin/env python
"""Local replica of the grading driver's correctness sweep, with per-query
timing (VERDICT r2 ask #9: slow-query-driven coverage gaps must be
diagnosable from artifacts alone).

Runs every ``__spark_entry__.queries()`` entry against its ``oracle_sql()``
DuckDB twin at sf0.01 (rows + column names + order-insensitive value
equality, same canonicalization as tests/test_entry.py), records seconds
per side, and writes CORRECTNESS_LOCAL.json next to the repo artifacts.

Usage:  python tools/sweep.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        else:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> dict:
    res = {
        "rows_match": len(got) == len(exp),
        "schema_match": list(got.columns) == list(exp.columns),
        "hash_match": False,
        "spark_rows": len(got),
        "oracle_rows": len(exp),
    }
    if not (res["rows_match"] and res["schema_match"]):
        return res
    ok_all = True
    for c in got.columns:
        a, b = got[c], exp[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            aa = pd.to_numeric(a, errors="coerce")
            bb = pd.to_numeric(b, errors="coerce")
            ok = ((aa - bb).abs() < 1e-6) | (aa.isna() & bb.isna())
        else:
            ok = (a == b) | (a.isna() & b.isna())
        if not ok.all():
            ok_all = False
            break
    res["hash_match"] = ok_all
    return res


def main() -> int:
    sf = "/root/testdata/sf0.01"
    args = sys.argv[1:]
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        args = args[:i] + args[i + 2 :]

    import __spark_entry__ as entry

    from nginx_log_spark.session import get_spark

    spark = get_spark(app="nls-sweep", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    names = args or list(queries)
    out: dict[str, dict] = {}
    t_start = time.perf_counter()
    for name in names:
        row: dict = {}
        try:
            t0 = time.perf_counter()
            got = canon(queries[name](spark, sf).toPandas())
            row["spark_sec"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            exp = canon(con.execute(oracles[name]).df())
            row["oracle_sec"] = round(time.perf_counter() - t0, 2)
            row.update(compare(got, exp))
            row["err"] = None
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            row["err"] = f"{type(e).__name__}: {e}"[:400]
            row.setdefault("hash_match", False)
        out[name] = row
        ok = row.get("hash_match") and row.get("rows_match") and row.get("schema_match")
        print(
            f"[sweep] {name:28s} {'PASS' if ok else 'FAIL':4s} "
            f"spark={row.get('spark_sec', '-'):>6}s oracle={row.get('oracle_sec', '-'):>6}s "
            f"rows={row.get('spark_rows', '-')}",
            flush=True,
        )
    total = round(time.perf_counter() - t_start, 1)
    n_pass = sum(
        1 for r in out.values()
        if r.get("hash_match") and r.get("rows_match") and r.get("schema_match")
    )
    print(f"[sweep] {n_pass}/{len(names)} pass in {total}s")
    if len(names) == len(queries):
        (REPO / "CORRECTNESS_LOCAL.json").write_text(
            json.dumps({"sf": sf, "total_sec": total, "queries": out}, indent=1)
        )
        print(f"[sweep] wrote CORRECTNESS_LOCAL.json")
    spark.stop()
    return 0 if n_pass == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
