"""Driver-contract smoke tests: entry() + every catalog query runs at
sf0.001 and produces a stable schema."""

from __future__ import annotations

import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "r_name",
        "n_name",
        "order_count",
        "lineitem_count",
        "revenue",
        "avg_discount",
    }


def test_every_query_runs_at_smoke_sf(spark, sf_dir):
    """One pass over the catalog: every query builds and runs at the
    smoke SF, and DECIMAL never crosses the driver boundary.

    The decimal check rides the same loop because building all ~150
    plans costs ~80 s of py4j/analysis time — doing it twice (a
    separate test used to) doubled that for no extra coverage.
    DECIMAL rationale: Spark.toPandas() renders it as scale-preserving
    Decimal objects while DuckDB's pandas fetch renders DECIMAL as
    float64, so any repr-level value hash diverges on trailing zeros
    (round-1 star_rollup / topn_revenue / customer_rollup fails).
    Aggregate THROUGH decimal, cast the final column to double."""
    from pyspark.sql.types import DecimalType

    qs = entrymod.queries()
    assert len(qs) >= 30
    for name, builder in qs.items():
        df = builder(spark, sf_dir)
        bad = [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]
        assert not bad, f"{name}: decimal-typed output columns {bad}"
        n = df.count()
        assert n >= 0, name
        assert df.columns, name


def test_oracle_sql_keys_subset_of_queries():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(isinstance(v, str) and v.strip() for v in os_.values())


def test_round8_keys_match_oracle_values(spark, sf_dir):
    """Value-level oracle parity for the four round-8 catalog keys,
    in-suite (the driver gate checks the same thing at sf0.01; this
    pins it at sf0.001 so a regression fails pytest before it burns a
    driver window slot)."""
    import duckdb

    keys = [
        "grouped_approx_distinct",
        "quarantine_reprocess",
        "url_canonical_dedup",
        "lsh_dedup_recall",
    ]
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in ["events", "documents"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from compare_oracle import compare

    for name in keys:
        got = qs[name](spark, sf_dir).toPandas()
        want = con.execute(oracles[name]).fetchdf()
        problems = compare(name, got, want)
        assert not problems, f"{name}: {problems}"


def test_package_is_imported_from_this_checkout():
    """The suite tests the package of the checkout it lives in, never
    another copy that happens to sit on ``sys.path``."""
    import delta_lake_gcp_implementation_spark as pkg

    assert Path(pkg.__file__).resolve().is_relative_to(REPO_ROOT)
    assert Path(entrymod.__file__).resolve().parent == REPO_ROOT
