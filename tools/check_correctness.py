"""Local twin of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its
oracle_sql() on DuckDB at a given sf dir, then compares:
row count, column-name set, dtype KINDS, and order-insensitive values
(columns sorted by name, rows sorted, exact equality; floats reported
with max abs diff so ulp-level risk is visible before the driver sees
it).

Dtype strictness: the driver's value-hash distinguishes a DOUBLE 5.0
from a BIGINT 5 (round-2 `quantiles` failed exactly this way while the
old float-coercing local check passed), so a float-kind column on one
side vs an integer-kind column on the other is a FAIL here even when
the coerced values would be equal. Decimal columns still canonicalize
to float on both sides — the driver accepts that pairing (every
decimal gate is hash-green), and DuckDB's fetchdf renders DECIMAL as
float64 anyway.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    import decimal

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            sample = df[c].dropna()
            # Decimal columns (Spark decimal → object) sort as floats,
            # matching DuckDB's float64, not as strings
            if len(sample) and isinstance(sample.iloc[0], decimal.Decimal):
                df[c] = df[c].astype(float)
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    """Driver-faithful compare of a Spark result vs an oracle result
    (both raw pandas). Returns {ok, ok_rows, ok_cols, ok_dtypes,
    ok_vals, max_float_diff, dtype_diffs, s, o}."""
    s, o = canon(sdf), canon(odf)
    out = {
        "ok_rows": len(s) == len(o),
        "ok_cols": list(s.columns) == list(o.columns),
        "ok_dtypes": True,
        "ok_vals": True,
        "max_float_diff": 0.0,
        "dtype_diffs": [],
        "s": s,
        "o": o,
    }
    if out["ok_rows"] and out["ok_cols"]:
        for c in s.columns:
            a, b = s[c], o[c]
            ka, kb = a.dtype.kind, b.dtype.kind
            # integer-kind vs float-kind is a representation mismatch the
            # driver's hash catches (5 vs 5.0) — never coerce it away.
            int_kinds = {"i", "u"}
            if ({ka, kb} & int_kinds) and "f" in {ka, kb} and ka != kb:
                out["ok_dtypes"] = False
                out["dtype_diffs"].append((c, str(a.dtype), str(b.dtype)))
                continue
            if ka == "f" or kb == "f":
                d = (a.astype(float) - b.astype(float)).abs().max()
                out["max_float_diff"] = max(
                    out["max_float_diff"], 0.0 if pd.isna(d) else float(d)
                )
                if not (a.astype(float) == b.astype(float)).all():
                    out["ok_vals"] = False
            else:
                if not (a.astype(str) == b.astype(str)).all():
                    out["ok_vals"] = False
    out["ok"] = (
        out["ok_rows"] and out["ok_cols"] and out["ok_dtypes"] and out["ok_vals"]
    )
    return out


def run_gates(spark, con, sf_dir: str, qs: dict, oracles: dict, only=()) -> list[str]:
    """Run each gate in ``qs`` (all, or those named in ``only``) and
    compare it with its oracle; print one line per gate and return the
    names that FAIL. A gate whose Spark build, run or oracle raises
    counts as a FAIL, with its exception printed, and the loop goes on."""
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            t_spark = time.time() - t0
            odf = con.execute(oracles[name]).fetchdf() if name in oracles else None
        except Exception as e:
            print(f"{name:28s} FAIL raised {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if odf is None:
            print(f"{name:28s} rows={len(sdf):7d}  (rows-only, no oracle)  {t_spark:5.1f}s")
            continue
        r = compare_frames(sdf, odf)
        status = "OK " if r["ok"] else "FAIL"
        print(
            f"{name:28s} {status} rows={len(sdf):7d}/{len(odf):7d} "
            f"cols={'=' if r['ok_cols'] else 'DIFF'} "
            f"dtypes={'=' if r['ok_dtypes'] else 'DIFF'} "
            f"maxfloatdiff={r['max_float_diff']:.2e} {t_spark:5.1f}s"
        )
        if status == "FAIL":
            failures.append(name)
            s, o = r["s"], r["o"]
            if not r["ok_cols"]:
                print(f"   spark cols: {list(s.columns)}\n   oracle cols: {list(o.columns)}")
            elif r["dtype_diffs"]:
                for c, da, db in r["dtype_diffs"]:
                    print(f"   dtype mismatch {c}: spark={da} oracle={db}")
            elif r["ok_rows"]:
                neq = ~(s.astype(str) == o.astype(str)).all(axis=1)
                print("   first diffs (spark vs oracle):")
                print(pd.concat([s[neq].head(3), o[neq].head(3)], axis=1).to_string())
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from changesetmd_spark.session import get_spark

    spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = run_gates(spark, con, sf_dir, entry_mod.queries(), entry_mod.oracle_sql(), only)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
