"""Local stand-in for the driver's correctness gate.

Runs every catalog query through Spark AND its DuckDB oracle SQL at
sf0.01, compares row count + column names + order-insensitive values
(exact for ints/strings/timestamps, exact-with-report for floats).

Usage: python tools/compare_oracle.py [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object:
            import datetime
            from decimal import Decimal

            def norm(v):
                if isinstance(v, datetime.datetime):
                    return pd.Timestamp(v).value // 1000
                if isinstance(v, datetime.date):
                    return pd.Timestamp(v).value // 1000
                if isinstance(v, Decimal):
                    return str(v)
                return repr(v)

            df[c] = s.map(norm)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def repr_hash(df: pd.DataFrame) -> str:
    """Repr-level row hash simulating a driver that stringifies cells.

    Floats are repr'd (shortest round-trip), everything else str'd.
    A Decimal('123.4500') from Spark vs float 123.45 from DuckDB
    hash DIFFERENTLY here even though the values are equal — which is
    exactly the class of divergence the driver's gate catches and the
    float-aware compare() below forgives.
    """
    import datetime
    import hashlib

    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NaT:
            return "NULL"
        if isinstance(v, float):  # incl. np.float64
            return "NULL" if np.isnan(v) else repr(float(v))
        if isinstance(v, (bool, np.bool_)):
            return "1" if v else "0"
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
            return pd.Timestamp(v).isoformat()
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    from decimal import Decimal

    for c in sdf.columns:
        if sdf[c].dtype == object and any(
            isinstance(v, Decimal) for v in sdf[c].head(50)
        ):
            problems.append(
                f"spark col {c} is DECIMAL-typed at the output boundary — "
                "driver hash risk (trailing-zero repr mismatch); cast to DOUBLE"
            )
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        return problems
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            svf, ovf = sv.astype(float), ov.astype(float)
            both_nan = np.isnan(svf) & np.isnan(ovf)
            eq = (svf == ovf) | both_nan
            if not eq.all():
                d = np.nanmax(np.abs(svf - ovf))
                problems.append(f"float col {c}: {int((~eq).sum())} diffs, maxabs={d:.3e}")
        else:
            if not (sv == ov).all():
                n = int((sv != ov).sum())
                idx = int(np.argmax(sv != ov))
                problems.append(
                    f"col {c}: {n} diffs, first spark={sv[idx]!r} oracle={ov[idx]!r}"
                )
    if not problems and repr_hash(sdf) != repr_hash(odf):
        problems.append(
            "repr-hash mismatch: values equal numerically but stringify "
            "differently across engines (driver hash would fail)"
        )
    return problems


def main() -> None:
    import __spark_entry__ as entrymod
    from delta_lake_gcp_implementation_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, builder in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = builder(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:400]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:400]}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
