"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB at the given sf dir, then compares
row-count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted by their string form).

    python tools/check_entry.py [SF_DIR] [NAME[,NAME...]]

The optional second argument re-runs only the named entries (comma-
separated); an unknown name raises.  Each OK line prints the row count
and the value hash, so two trees can be compared entry by entry.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].map(lambda v: f"{v:.9g}" if pd.notna(v) else "NULL")
        else:
            df[c] = df[c].astype(str)
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def dtype_kind_mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Columns where one side is integer-kind and the other float-kind."""
    out = []
    for c in sorted(got.columns):
        a = "f" if pd.api.types.is_float_dtype(got[c]) else (
            "i" if pd.api.types.is_integer_dtype(got[c]) else "o")
        b = "f" if pd.api.types.is_float_dtype(exp[c]) else (
            "i" if pd.api.types.is_integer_dtype(exp[c]) else "o")
        if {a, b} == {"i", "f"}:
            out.append(f"{c}:{a}!={b}")
    return out


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None) -> int:
    import __spark_entry__ as entrymod
    from logtrics_spark.session import get_spark

    qs = entrymod.queries()
    names = set(only.split(",")) if only else set(qs)
    if unknown := names - set(qs):
        raise ValueError(f"unknown entries {sorted(unknown)}")
    spark = get_spark(app_name="check-entry", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if name not in names:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(got)} rows, cols={sorted(got.columns)}")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(exp.columns)}")
        elif kinds := dtype_kind_mismatches(got, exp):
            # The driver hashes str(value): int64 1731 vs float64 1731.0
            # diverge even when %.9g masks it here.  DuckDB promotes
            # integer SUM to HUGEINT -> float64, so oracles must CAST
            # integer aggregates back to BIGINT.  Fail loudly on any
            # int-vs-float column so that class reproduces locally.
            problems.append(f"dtype kind mismatch (spark vs duckdb): {kinds}")
        elif frame_hash(got) != frame_hash(exp):
            problems.append("value hash mismatch")
            merged = got[sorted(got.columns)].merge(
                exp[sorted(exp.columns)], how="outer", indicator=True,
                on=sorted(got.columns) if len(got.columns) < 8 else None,
            )
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)}")
            print("  spark:", got.head(3).to_dict("records"))
            print("  duck :", exp.head(3).to_dict("records"))
        else:
            print(f"OK   {name}: {len(got)} rows, hash {frame_hash(got)}")
    # smoke entry()
    if not only:
        res = entrymod.entry(spark)
        n = res.count()
        print(f"entry(): {n} rows, schema: {res.columns}")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
