"""Full-catalog 100x rehearsal (round 9): run EVERY catalog key once
against the 100x dataset and record wall time + rows + the factor vs
the committed sf0.1 artifact.  Prior rounds rehearsed families; this
sweeps the whole surface so no key's scale behavior is unmeasured.

Resumable: results append to a JSONL file and already-recorded keys
are skipped, so the sweep can be re-invoked after an interruption.
Each key runs inside its own Spark job group with a watchdog that
cancels the group at the per-key budget — a key that blows up at 100x
is recorded as TIMEOUT (that IS the finding) instead of stalling the
sweep.

Usage:
    python tools/gen_scale_rel.py  /tmp/sfrel100   100   # once
    python tools/gen_scale_docs.py /tmp/sfscale100 100   # once
    # /tmp/sf100 = symlinks: rel tables from sfrel100,
    #              documents/embeddings from sfscale100
    python tools/rehearse_catalog_100x.py [sf100_dir] [out_jsonl] [budget_s]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: sf0.1 dir whose eval-shaped side inputs stay PINNED while the corpus
#: scales (see _pinned_builders below).
SF01_DIR = "/root/testdata/sf0.1"


def _pinned_builders() -> dict:
    """Keys whose catalog definition derives an EVAL-SHAPED side input
    from the same scaled table, so the naive sweep scales that side
    input 100x too and measures a benchmark-construction artifact
    instead of the production regime (r10 verdict item 2 — the
    committed contamination_check row was a 300 s TIMEOUT while the
    fixed-eval rehearsal measures the real shape linear: 1.8/3.2/31 s
    at 1x/10x/100x corpus).  Each entry returns (builder, note): the
    builder runs the PRODUCTION regime — side input pinned at the
    sf0.1 catalog split, corpus from the scaled dir — and the note is
    written into the artifact row so the measurement is explained
    in-place rather than in BENCH_NOTES prose."""
    from pyspark.sql import functions as F

    from delta_lake_gcp_implementation_spark.operators import (
        curation as cur_ops,
    )
    from delta_lake_gcp_implementation_spark.plans.curation import (
        CONTAM_EVAL_MOD,
        CONTAM_K,
        CONTAM_THRESHOLD,
    )

    def contamination_fixed_eval(spark, sf100):
        eval_set = (
            spark.read.parquet(f"{SF01_DIR}/documents.parquet")
            .filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0)
            .select("doc_id", "text")
            .localCheckpoint()
        )
        corpus = (
            spark.read.parquet(f"{sf100}/documents.parquet")
            .filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
            .select("doc_id", "text")
        )
        return cur_ops.contamination_pairs(
            corpus, eval_set, "text", "doc_id", CONTAM_K, CONTAM_THRESHOLD
        )

    return {
        "contamination_check": (
            contamination_fixed_eval,
            "eval set pinned at the sf0.1 catalog split (fixed benchmark "
            "regime, operators/curation.py contamination_pairs); the "
            "catalog definition derives eval from the scaled table, which "
            "grows the candidate space quadratically with the sweep — a "
            "benchmark-construction artifact, not a scale defect "
            "(tools/rehearse_contam_fixed_eval.py measures the step "
            "linearity)",
        ),
    }


#: static in-row notes for keys whose single-run time is order- or
#: session-dependent by DESIGN, so the artifact explains itself
#: instead of needing BENCH_NOTES prose (r13 lesson: artifacts and
#: narrative must not disagree).
STATIC_NOTES: dict[str, str] = {
    k: (
        "session-shared trained tokenizer (plans/bpeq.py "
        "trained_bpe/encode_frame): the FIRST of the four BPE keys to "
        "run in a session pays word_freqs + 6 merge rounds + the "
        "encode join once; the rest pay only their marginal "
        "aggregation — the production train-once/apply-many regime"
    )
    for k in (
        "bpe_merges", "bpe_encode_tokens", "packing_stats",
        "tokenizer_fertility",
    )
}


def should_rerun(
    factor: float | None,
    prior_factor: float | None,
    ratio: float = 3.0,
    s100x: float | None = None,
    prior_s100x: float | None = None,
    time_ratio: float = 1.7,
    min_delta_s: float = 5.0,
) -> bool:
    """In-sweep variance guard (VERDICT r11 item 6): a single run whose
    100x factor exceeds ``ratio`` x the key's committed prior-round
    factor is a suspected GC/JIT/contention outlier (the r11
    ``cheapest_supplier`` 78.7 s single vs 9.9 s quiet best-of-3), so
    the sweep re-measures best-of-2 BEFORE writing the row instead of
    shipping an artifact that needs a manual correction note.

    Second trigger (r12): in-sweep inflation proved stochastic and
    often lands BELOW 3x — eight r12 rows at 1.8-3.2x the prior
    round's time needed manual quiet re-times.  A run that is both
    ``time_ratio`` x the prior round's absolute time AND more than
    ``min_delta_s`` slower re-measures too; the absolute floor keeps
    sub-second keys from re-running on noise."""
    if (
        factor is not None
        and prior_factor is not None
        and prior_factor > 0
        and factor > ratio * prior_factor
    ):
        return True
    return (
        s100x is not None
        and prior_s100x is not None
        and prior_s100x > 0
        and s100x > time_ratio * prior_s100x
        and s100x - prior_s100x > min_delta_s
    )


def comparable_prior_factor(
    key: str, prior_row: dict, pinned_keys: set[str] | frozenset[str]
) -> float | None:
    """ADVICE r12: a factor is only comparable to a prior factor
    measured under the SAME regime — a row's regime is pinned iff it
    carries ``sf01_pinned_s``.  The gate is BIDIRECTIONAL (r13
    review): a key newly pinned this round must not compare against a
    catalog-regime prior, and a key UNPINNED this round must not
    compare against its old pinned-regime prior.  Returns the prior
    factor to feed :func:`should_rerun`, or None when the regimes
    differ.  The absolute-time arm is unaffected — s100x is
    regime-free."""
    if (key in pinned_keys) != ("sf01_pinned_s" in prior_row):
        return None
    return prior_row.get("factor")


def load_prior_rows(repo_root: str) -> dict[str, dict]:
    """Per-key row from the newest committed BENCH_100X_r*.jsonl
    (error rows carry no factor and are skipped)."""
    import glob
    import re

    priors = glob.glob(os.path.join(repo_root, "BENCH_100X_r*.jsonl"))
    priors = [p for p in priors if re.fullmatch(
        r"BENCH_100X_r\d+\.jsonl", os.path.basename(p)
    )]
    if not priors:
        return {}
    newest = max(
        priors,
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    out: dict[str, dict] = {}
    with open(newest) as f:
        for ln in f:
            if not ln.strip():
                continue
            row = json.loads(ln)
            # keep any non-error row: the absolute-time rerun arm only
            # needs prior s100x, which exists even when the key had no
            # sf0.1 baseline (factor null)
            if "error" not in row and row.get("s100x") is not None:
                out[row["key"]] = row
    return out


def load_prior_factors(repo_root: str) -> dict[str, float]:
    """Per-key factor view of :func:`load_prior_rows` (rows without an
    sf0.1 baseline carry no factor and are omitted here)."""
    return {
        k: r["factor"]
        for k, r in load_prior_rows(repo_root).items()
        if r.get("factor") is not None
    }


#: the narrow-layout regression canary (r13 verdict item 6): the r14
#: sweep runs against a REALISTIC wide file layout (>= cores files per
#: table), which makes the one-row-group pushdown-straggler class
#: unobservable — so one representative key from that class re-runs
#: against the old narrow layout each sweep.  A canary time far above
#: its last fixed value means a pushdown-class regression crept back.
NARROW_CANARY_KEY = "ann_ivf_topk"


def main() -> None:
    sf100 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/rehearse_100x.jsonl"
    budget_s = float(sys.argv[3]) if len(sys.argv) > 3 else 300.0
    narrow_dir = sys.argv[4] if len(sys.argv) > 4 else None

    from delta_lake_gcp_implementation_spark.checkpoints import (
        owned_checkpoints,
    )
    from delta_lake_gcp_implementation_spark.plans import CATALOG
    from delta_lake_gcp_implementation_spark.session import get_spark

    pinned = _pinned_builders()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import glob
    import re

    newest = max(
        glob.glob(os.path.join(here, "BENCH_FULL_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    with open(newest) as f:
        sf01 = json.load(f)["queries"]

    done = set()
    if os.path.exists(out_path):
        with open(out_path) as f:
            done = {json.loads(ln)["key"] for ln in f if ln.strip()}

    spark = get_spark(app_name="rehearse_catalog_100x")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    prior_rows = load_prior_rows(here)

    def timed_run(builder, key: str, data_dir: str) -> tuple[None, float]:
        """Time the key with the NOOP SINK (r16, VERDICT r15 item 8).
        The sweep previously timed ``builder().count()``, under which
        Catalyst prunes aggregate expressions — agg-final keys' sweep
        factors were lower bounds (discovered r15, held for the
        r14/r15 comparability window).  bench.py has always used the
        noop sink, so sweep rows are now methodology-identical to
        driver numbers; rows-out is no longer observable (None).

        The run owns the checkpoints its builder makes and frees them
        on exit, outside the timed region (``checkpoints``), so no
        key's blocks pile into executor storage and inflate later
        keys (the r12 symptom)."""
        sc.setJobGroup(key, f"100x rehearsal {key}", True)
        cancel = threading.Timer(budget_s, lambda: sc.cancelJobGroup(key))
        cancel.start()
        try:
            with owned_checkpoints():
                t0 = time.perf_counter()
                builder(spark, data_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                return None, round(time.perf_counter() - t0, 2)
        finally:
            cancel.cancel()
            sc.setJobGroup("", "")

    # cheapest-first (by the committed sf0.1 time) so an interrupted
    # sweep still covers most of the surface
    order = sorted(CATALOG, key=lambda k: sf01.get(k, 1e9))
    with open(out_path, "a") as out:
        for key in order:
            if key in done:
                continue
            rec: dict = {"key": key, "sf01_s": sf01.get(key), "sink": "noop"}
            if key in STATIC_NOTES:
                rec["note"] = STATIC_NOTES[key]
            builder = CATALOG[key].builder
            if key in pinned:
                builder, rec["note"] = pinned[key]
                # ADVICE r11: the pinned regime diverges from the
                # catalog definition as the corpus scales, so the
                # factor must compare against a baseline measured
                # under the SAME pinned regime, not the committed
                # catalog-definition sf0.1 time
                try:
                    _, rec["sf01_pinned_s"] = timed_run(
                        builder, key, SF01_DIR
                    )
                except Exception as e:  # noqa: BLE001 - recorded in-row
                    rec["sf01_pinned_error"] = type(e).__name__
            if key in pinned:
                # NEVER fall back to the catalog-regime sf0.1 time for
                # a pinned key: a pinned 100x time over a catalog
                # baseline is the apples-to-oranges factor ADVICE r11
                # flagged.  No pinned baseline -> no factor.
                base = rec.get("sf01_pinned_s")
            else:
                base = sf01.get(key)
            t_start = time.perf_counter()
            try:
                rec["rows"], rec["s100x"] = timed_run(builder, key, sf100)
                if base:
                    rec["factor"] = round(rec["s100x"] / base, 1)
                prior = prior_rows.get(key, {})
                prior_factor = comparable_prior_factor(
                    key, prior, set(pinned)
                )
                if should_rerun(
                    rec.get("factor"),
                    prior_factor,
                    s100x=rec["s100x"],
                    prior_s100x=prior.get("s100x"),
                ):
                    rec["s100x_first"] = rec["s100x"]
                    rec["variance_rerun"] = True
                    # a failed rerun must not clobber the first run's
                    # valid numbers with an error row
                    try:
                        rec["rows"], second = timed_run(builder, key, sf100)
                    except Exception as e:  # noqa: BLE001 - recorded
                        rec["rerun_error"] = type(e).__name__
                    else:
                        rec["s100x"] = min(rec["s100x"], second)
                        if base:
                            rec["factor"] = round(rec["s100x"] / base, 1)
            except Exception as e:
                dt = time.perf_counter() - t_start
                kind = "TIMEOUT" if dt >= budget_s - 1 else type(e).__name__
                rec["error"] = kind
                rec["s100x"] = round(dt, 2)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(rec, flush=True)
        canary = f"{NARROW_CANARY_KEY}__narrow_canary"
        if narrow_dir and canary not in done:
            rec = {
                "key": canary,
                "note": (
                    "pushdown-straggler regression canary: the catalog "
                    f"key {NARROW_CANARY_KEY} re-run against the legacy "
                    "ONE-file-per-table layout (single parquet row "
                    "group), where any expression Catalyst pushes into "
                    "the scan serializes on one core — the r13 "
                    "straggler class the wide sweep layout can no "
                    "longer observe"
                ),
            }
            try:
                rec["rows"], rec["s100x"] = timed_run(
                    CATALOG[NARROW_CANARY_KEY].builder, canary, narrow_dir
                )
            except Exception as e:  # noqa: BLE001 - recorded in-row
                rec["error"] = type(e).__name__
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(rec, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
