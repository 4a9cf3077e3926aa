"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet dir, then compares row count, column-name
schema, and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
    python tools/check_correctness.py --pandas [sf_dir] [query ...]

``--pandas`` fetches BOTH engines through the pandas/Arrow layer
(``toPandas`` / DuckDB ``.df()``) instead of row fetchall — the fetch
path the DRIVER's harness uses, where DuckDB HUGEINT/DECIMAL columns
stringify differently (round-1's three hash mismatches). Running the
window queries in this mode catches fetch-layer divergence the default
mode hides; ``tools/audit_oracle_types.py`` guards the known type class
statically.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    if type(v).__module__ == "numpy":  # pandas-mode scalars
        try:
            v = v.item()
        except (AttributeError, ValueError):
            v = v.tolist()
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if v != v:  # pandas surfaces SQL NULL as NaN in numeric columns
            return "<NULL>"
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, datetime.datetime):
        # pandas-mode: DuckDB DATE surfaces as midnight Timestamp while
        # Spark gives datetime.date — same value, different stringify.
        # The driver's comparator is date-normalizing (its r1/r2 rows on
        # DATE-column queries were green); mirror that here. A NULL in a
        # datetime64 column arrives as NaT (a datetime subclass).
        if v != v:  # NaT
            return "<NULL>"
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.strftime("%Y-%m-%d")
        return str(v)
    return str(v)


def frame_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return sorted(cols), len(rows), h


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(sdf, con, sql: str, pandas_mode: bool = False) -> dict:
    """The oracle gate for one Spark frame: run ``sql`` on ``con``, take
    both ``frame_fingerprint``s and return the verdict. ``ok`` needs the
    sorted column names, the row counts and the value hashes to agree;
    an empty result is not a failure. When schema and row count agree
    but the hashes do not, ``spark_only``/``oracle_only`` hold up to
    three differing normalised rows of each side."""
    if pandas_mode:
        spdf = sdf.toPandas()
        s_cols = list(spdf.columns)
        s_rows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
    else:
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    d = con.execute(sql)
    d_cols = [c[0] for c in d.description]
    if pandas_mode:
        d_rows = [tuple(r) for r in d.df().itertuples(index=False, name=None)]
    else:
        d_rows = d.fetchall()
    sc, sn, sh = frame_fingerprint(s_cols, s_rows)
    dc, dn, dh = frame_fingerprint(d_cols, d_rows)
    v = {
        "ok": sc == dc and sn == dn and sh == dh,
        "spark_rows": sn, "oracle_rows": dn,
        "schema_match": sc == dc, "hash_match": sh == dh,
        "spark_cols": sc, "oracle_cols": dc,
    }
    if not v["ok"] and sc == dc and sn == dn:
        s_set = {tuple(norm_cell(x) for x in r) for r in s_rows}
        d_set = {tuple(norm_cell(x) for x in r) for r in d_rows}
        v["spark_only"] = list(s_set - d_set)[:3]
        v["oracle_only"] = list(d_set - s_set)[:3]
    return v


def main() -> int:
    args = sys.argv[1:]
    pandas_mode = "--pandas" in args
    args = [a for a in args if a != "--pandas"]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("--json needs an output path", file=sys.stderr)
            return 2
        json_path = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # the DRIVER's harness builds a plain SparkSession (default 200
        # shuffle partitions, no engine confs) — this mode replicates
        # that exactly, catching any query that silently depends on
        # get_spark's tuning (UTC/AQE/partition counts)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from healthcare_dbt_datamart_spark.session import get_spark

        spark = get_spark("correctness-check")
    con = oracle_connection(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        if name not in oracles:
            n = len(sdf.toPandas() if pandas_mode else sdf.collect())
            print(f"{name:28s} rows-only: {n} rows (no oracle)")
            results[name] = {"rows": n, "oracle": False}
            continue
        v = compare(sdf, con, oracles[name], pandas_mode)
        sn, dn = v["spark_rows"], v["oracle_rows"]
        results[name] = {
            k: v[k] for k in
            ("ok", "spark_rows", "oracle_rows", "schema_match", "hash_match")
        }
        schema = "=" if v["schema_match"] else (
            f"{v['spark_cols']} vs {v['oracle_cols']}"
        )
        print(f"{name:28s} {'OK ' if v['ok'] else 'FAIL'} spark={sn} "
              f"duck={dn} schema={schema} "
              f"hash={'=' if v['hash_match'] else 'MISMATCH'}")
        if not v["ok"]:
            failures.append(name)
            if "spark_only" in v:
                print("  spark-only:", v["spark_only"])
                print("  duck-only :", v["oracle_only"])
    print("\nFAILURES:", failures or "none")
    if json_path:
        import json as _json

        with open(json_path, "w") as f:
            _json.dump(
                {"sf_dir": sf_dir, "mode": "pandas" if pandas_mode else "rows",
                 "n_queries": len(results),
                 "n_ok": sum(1 for r in results.values() if r.get("ok")),
                 "failures": failures, "queries": results},
                f, indent=1, sort_keys=True,
            )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
