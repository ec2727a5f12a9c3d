"""Checkpoint ownership: a scope frees exactly the checkpoints it made,
whatever other threads are doing, and every checkpoint in the package
is made through the owning primitive."""

from __future__ import annotations

import threading
from pathlib import Path

from delta_lake_gcp_implementation_spark.checkpoints import (
    checkpoint,
    owned_checkpoints,
)

PACKAGE = (
    Path(__file__).resolve().parent.parent / "delta_lake_gcp_implementation_spark"
)


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_sibling_thread_scope_frees_only_its_own(spark):
    """Thread A checkpoints inside its scope while thread B's scope is
    open; B then checkpoints and closes its scope.  B's close must free
    B's blocks and leave A's alone: A's frame has no lineage to
    recompute from, so it only evaluates if its blocks survived.  (A
    time-window release — free everything persisted since the scope
    opened — fails here.)"""
    barrier = threading.Barrier(2, timeout=120)
    out: dict = {}

    def run(name, body):
        try:
            body()
        except Exception as exc:  # surfaced in the main thread
            out[f"{name}_error"] = exc
            barrier.abort()

    def a():
        with owned_checkpoints():
            barrier.wait()  # 1: B's scope is open
            df = checkpoint(spark.range(100))
            out["a_rdd"] = _rdd_id(df)
            barrier.wait()  # 2: A's checkpoint exists
            barrier.wait()  # 3: B's scope has closed
            out["a_live_in_scope"] = out["a_rdd"] in _persistent_rdd_ids(spark)
            out["a_count"] = df.count()

    def b():
        with owned_checkpoints():
            barrier.wait()  # 1
            barrier.wait()  # 2
            df = checkpoint(spark.range(50))
            out["b_rdd"] = _rdd_id(df)
            out["b_count"] = df.count()
        barrier.wait()  # 3

    threads = [
        threading.Thread(target=run, args=("a", a)),
        threading.Thread(target=run, args=("b", b)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    errors = {k: v for k, v in out.items() if k.endswith("_error")}
    assert not errors, errors
    assert out["a_live_in_scope"]
    assert out["a_count"] == 100 and out["b_count"] == 50
    live = _persistent_rdd_ids(spark)
    assert out["b_rdd"] not in live
    assert out["a_rdd"] not in live  # A's own scope freed it on exit


def test_nested_scope_frees_only_its_own(spark):
    with owned_checkpoints():
        outer = checkpoint(spark.range(10))
        with owned_checkpoints():
            inner = checkpoint(spark.range(20))
        live = _persistent_rdd_ids(spark)
        assert _rdd_id(inner) not in live
        assert _rdd_id(outer) in live
        assert outer.count() == 10
    assert _rdd_id(outer) not in _persistent_rdd_ids(spark)


def test_only_the_primitive_calls_local_checkpoint():
    """Every checkpoint in the package has an owner by construction:
    the one direct ``localCheckpoint`` call is the primitive's own."""
    hits = [
        (path.relative_to(PACKAGE).as_posix(), n)
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert len(hits) == 1, hits
    assert hits[0][0] == "checkpoints.py"
