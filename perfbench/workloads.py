"""The benchmark's closed-loop workloads (one client thread).

Each workload has the same shape:

- ``setup()``: write the seeded inputs, then run the operations once
  untimed so JIT compilation, codegen caches and lazy set-up finish
  before timing (the medallion warm-up is the first day drop, which
  also gives the store its history).  Output checks run here for the
  catalog workloads, and their time is kept out of ``setup_s``.
- ``run_pass(tracer)``: one timed pass over the workload's operations;
  returns the op samples.  A pass is the unit ``run_s`` reports.

Every failed operation and every failed output check is appended to
``self.failures``.
"""

from __future__ import annotations

import os
import random
import time
import traceback

from datagen import write_day_csvs, write_sf_tables

#: driver-bound document/embedding keys: ``builder()`` takes most of
#: their time (eager checkpoints, collects, convergence loops);
#: ``corpus_ingest_verdict`` runs ``pipeline.corpus.ingest_batch`` twice
#: into a ``TableStore``
CORPUS_KEYS = ["corpus_ingest_verdict", "ann_ivf_topk", "domain_kl", "mmr_select"]
#: scale factor of the generated catalog tables: these keys cost nearly
#: the same at any scale, so they run on 1,000 documents to fit the
#: per-run time budget
CORPUS_SF = 0.02
#: rows per medallion day drop (before CDC updates and duplicates)
DAY_ROWS = 10_000

#: revenue by category by day over the star schema's current dimension
#: rows; {fact} etc. are table references (Spark catalog names, or
#: DuckDB ``read_parquet`` scans of the same store for the check)
GOLD_QUERY = """
SELECT d.full_date AS day, f.product_category AS category,
       CAST(SUM(CAST(f.amount AS DECIMAL(20, 2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM {fact} f
JOIN {customer} c ON f.customer_key = c.customer_key AND c.is_current
JOIN {merchant} m ON f.merchant_key = m.merchant_key AND m.is_current
JOIN {date} d ON f.date_key = d.date_key
WHERE NOT f.is_deleted
GROUP BY d.full_date, f.product_category
"""
GOLD_TABLES = {"fact": "gold.fact_transactions", "customer": "gold.dim_customer",
               "merchant": "gold.dim_merchant", "date": "gold.dim_date"}


def store_usage(root: str | None) -> tuple[int, int]:
    """(files, bytes) under a store root."""
    files = size = 0
    if root and os.path.isdir(root):
        for d, _, names in os.walk(root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Sample:
    """One timed operation."""

    def __init__(self, kind: str, name: str, seconds: float, rows: int = 0):
        self.kind, self.name, self.seconds, self.rows = kind, name, seconds, rows


class CatalogWorkload:
    """Catalog keys: ``builder()`` then the noop sink, one key at a time,
    in a seed-permuted order."""

    def __init__(self, spark, work: str, seed: int, keys: list[str], sf: float):
        from delta_lake_gcp_implementation_spark.plans import CATALOG

        self.spark, self.work, self.seed = spark, work, seed
        self.specs = {k: CATALOG[k] for k in keys}
        self.rng = random.Random(seed)
        self.sf = sf
        self.sf_dir = os.path.join(work, "sf")
        self.failures: list[str] = []
        self.check_s = 0.0
        self.attempted = 0

    def setup(self) -> None:
        """Inputs, then one untimed pass that builds each key and checks
        its collected output (the warm-up)."""
        write_sf_tables(self.sf_dir, self.seed, self.sf)
        for key in self._order():
            self.attempted += 1
            try:
                got = self.specs[key].builder(self.spark, self.sf_dir).toPandas()
            except Exception:
                self.failures.append(f"{key}: {traceback.format_exc(limit=3)}")
                continue
            t0 = time.perf_counter()
            self._check(key, got)
            # the collect stands in for the sink as warm-up; the oracle
            # side of the check is not set-up
            self.check_s += time.perf_counter() - t0

    def _order(self) -> list[str]:
        keys = list(self.specs)
        self.rng.shuffle(keys)
        return keys

    def _check(self, key: str, got) -> None:
        """Rows > 0, then DuckDB running the key's oracle SQL over the
        same files, compared by the repo oracle gate's ``compare``.
        ``corpus_ingest_verdict``'s oracle replays the whole pipeline
        in SQL and does not finish at this scale; its verdict gets the
        structural check instead."""
        import compare_oracle
        import duckdb

        if len(got) == 0:
            self.failures.append(f"{key}: no rows")
            return
        try:
            if key == "corpus_ingest_verdict":
                problems = self._check_verdict(got)
            else:
                con = duckdb.connect()
                con.execute(f"SET temp_directory = '{self.work}/duckdb'")
                for t in compare_oracle.TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')"
                    )
                want = con.execute(self.specs[key].oracle_sql).fetchdf()
                con.close()
                problems = compare_oracle.compare(key, got, want)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failures.append(f"{key}: {' | '.join(problems)}")

    def _check_verdict(self, got) -> list[str]:
        """One verdict per document, the batch split the key documents,
        and at most one accepted document per exact-duplicate text."""
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pandas()
        v = docs.merge(got, on="doc_id", how="left")
        problems = []
        if len(got) != len(docs) or got.doc_id.duplicated().any():
            problems.append(f"{len(got)} verdict rows for {len(docs)} documents")
        if v.accepted.isna().any() or (v.batch_no != v.doc_id % 2).any():
            problems.append("missing verdicts or wrong batch split")
        dup_accepts = v[v.accepted.fillna(False)].groupby("text").size().max()
        if dup_accepts > 1:
            problems.append(f"{dup_accepts} accepted copies of one text")
        if v.accepted.all():
            problems.append("no document dropped although the corpus has duplicates")
        return problems

    def run_pass(self, tracer) -> list[Sample]:
        samples = []
        for key in self._order():
            self.attempted += 1
            with tracer.span(f"op.{key}", op=True):
                t0 = time.perf_counter()
                try:
                    with tracer.span("plans.build"):
                        df = self.specs[key].builder(self.spark, self.sf_dir)
                    with tracer.span("exec.sink"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:
                    self.failures.append(f"{key}: {traceback.format_exc(limit=3)}")
                    continue
            samples.append(Sample("key", key, time.perf_counter() - t0))
        return samples


class MedallionWorkload:
    """Consecutive day drops through ``medallion.run_incremental`` into
    one ``TableStore``, a star-schema BI query after each day, then a
    replay of the last day (must insert nothing)."""

    TIMED_DAYS = 2

    def __init__(self, spark, work: str, seed: int):
        from delta_lake_gcp_implementation_spark.pipeline import medallion

        medallion.RESULT_JSON_ENABLED = False  # stdout carries the result
        self.spark, self.work, self.seed = spark, work, seed
        self.failures: list[str] = []
        self.check_s = 0.0
        self.attempted = 0
        self.first_day = 2 + seed % 20
        self.days = []
        self.stores = 0
        self.input_bytes = 0
        self.store_root = None
        #: (store, op, files, bytes) after every day drop
        self.series: list[dict] = []

    def setup(self) -> None:
        days = range(self.first_day, self.first_day + 1 + self.TIMED_DAYS)
        self.days = write_day_csvs(
            os.path.join(self.work, "csv"), self.seed, list(days), DAY_ROWS
        )
        self.new_store()

    def new_store(self) -> None:
        """A fresh store holding the first day drop (the warm-up)."""
        from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

        self.stores += 1
        self.store_root = os.path.join(self.work, f"store{self.stores}")
        self.store = TableStore(self.spark, self.store_root)
        self.input_bytes = 0
        out = self._ingest(self.days[0])
        if out is not None:
            self.input_bytes += self.days[0]["bytes"]
            self._record_usage(f"day_{self.days[0]['day']}")
            self._checked(self._check_day, self.days[0], out[1], False)
        q = self._gold_query()  # warm-up of the read side
        if q is not None:
            self._checked(self._check_query, q[1])

    def _record_usage(self, op: str) -> None:
        files, size = store_usage(self.store_root)
        self.series.append({"store": self.stores, "op": op,
                            "files": files, "bytes": size})

    def _checked(self, check, *args) -> None:
        t0 = time.perf_counter()
        check(*args)
        self.check_s += time.perf_counter() - t0

    def _ingest(self, day: dict) -> tuple[float, dict] | None:
        from delta_lake_gcp_implementation_spark.pipeline import medallion
        from delta_lake_gcp_implementation_spark.sources import ingest

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            raw = ingest.read_raw_csv(self.spark, day["path"], medallion.RAW_COLS)
            result = medallion.run_incremental(self.store, raw)
        except Exception:
            self.failures.append(f"day {day['day']}: {traceback.format_exc(limit=3)}")
            return None
        return time.perf_counter() - t0, result

    def _check_day(self, day: dict, r: dict, replay: bool) -> None:
        from pyspark.sql import functions as F

        from delta_lake_gcp_implementation_spark.pipeline import medallion

        bad = []
        try:
            v = r["validate"]
            if replay:
                inserted = (r["bronze"]["records_inserted"],
                            r["silver"]["records_inserted"],
                            r["fact"]["records_inserted"])
                if any(inserted):
                    bad.append(f"replay inserted {inserted} (bronze, silver, fact)")
            elif v["staged"] + v["quarantined"] != day["rows"] - day["dups"]:
                bad.append(
                    f"staged {v['staged']} + quarantined {v['quarantined']} "
                    f"!= rows read {day['rows']} - duplicates {day['dups']}"
                )
            silver = self.store.read("silver.transactions")
            s = silver.agg(F.count("*").alias("n"),
                           F.countDistinct("transaction_id").alias("ids")).first()
            if s.n != s.ids:
                bad.append(f"silver has {s.n} rows for {s.ids} transaction ids")
            fact = self.store.read("gold.fact_transactions")
            nulls = fact.agg(*[
                F.sum(F.col(c).isNull().cast("int")).alias(c)
                for c in medallion.FACT_FK_COLS
            ]).first().asDict()
            if any(nulls.values()):
                bad.append(f"fact NULL FKs {nulls}")
            for dim, key, src in (("customer", "customer_id", "customer_id"),
                                  ("merchant", "merchant_id", "merchant_id")):
                cur = (self.store.read(f"gold.dim_{dim}")
                       .filter(F.col("is_current"))
                       .groupBy(key).count())
                c = cur.agg(F.count("*").alias("keys"),
                            F.max("count").alias("most")).first()
                want = (silver.filter(~F.col("merchant_id").like("MERCH_9%"))
                        if dim == "merchant" else silver)
                n_src = want.select(src).distinct().count()
                if c.most != 1 or c.keys != n_src:
                    bad.append(f"dim_{dim}: {c.keys} current keys (max "
                               f"{c.most} rows each) for {n_src} source ids")
        except Exception:
            bad.append(traceback.format_exc(limit=3))
        self.failures.extend(f"day {day['day']}: {b}" for b in bad)

    def _gold_query(self) -> tuple[float, object] | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = self.spark.sql(GOLD_QUERY.format(**GOLD_TABLES)).toPandas()
        except Exception:
            self.failures.append(f"gold query: {traceback.format_exc(limit=3)}")
            return None
        return time.perf_counter() - t0, got

    def _check_query(self, got) -> None:
        """Rows > 0, and DuckDB running the same SQL over the store's
        parquet files agrees (the repo oracle gate's comparison)."""
        import compare_oracle
        import duckdb

        scans = {
            k: f"read_parquet('{self.store.path(t)}/*.parquet')"
            for k, t in GOLD_TABLES.items()
        }
        try:
            want = duckdb.connect().execute(GOLD_QUERY.format(**scans)).fetchdf()
            problems = compare_oracle.compare("gold_query", got, want)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if len(got) == 0:
            problems.append("no rows")
        if problems:
            self.failures.append(f"gold query: {' | '.join(problems)}")

    def run_pass(self, tracer) -> list[Sample]:
        samples = []
        for day in self.days[1:]:
            with tracer.span(f"op.day_{day['day']}", op=True):
                out = self._ingest(day)
            if out is not None:
                self.input_bytes += day["bytes"]
                self._record_usage(f"day_{day['day']}")
                samples.append(Sample("day", f"day_{day['day']}", out[0], day["rows"]))
                with tracer.span("check"):
                    self._checked(self._check_day, day, out[1], False)
            with tracer.span("op.gold_query", op=True):
                q = self._gold_query()
            if q is not None:
                samples.append(Sample("query", "gold_query", q[0]))
                with tracer.span("check"):
                    self._checked(self._check_query, q[1])
        last = self.days[-1]
        with tracer.span(f"op.replay_{last['day']}", op=True):
            out = self._ingest(last)
        if out is not None:
            samples.append(Sample("replay", f"replay_{last['day']}", out[0]))
            self._record_usage(f"replay_{last['day']}")
            with tracer.span("check"):
                self._checked(self._check_day, last, out[1], True)
        return samples
