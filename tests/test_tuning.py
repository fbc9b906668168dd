"""operators/tuning.py: the operator-scoped AQE coalescing policy
(optimization r18) must apply inside the block and never leak out —
the wrapped operators (pagerank, connected_components, d12/d21
curation) run inside shared sessions (bench, driver) where a leaked
conf would silently re-plan every later query."""

import pytest
from pyspark.sql import functions as F

from lawlm_spark.operators.tuning import _KEY, coalesced_shuffles


def test_sets_inside_and_restores_unset(spark):
    # the lawlm session does not set the key: get -> None means unset
    spark.conf.unset(_KEY)
    assert spark.conf.get(_KEY, None) is None
    with coalesced_shuffles(spark):
        assert spark.conf.get(_KEY) == "false"
    assert spark.conf.get(_KEY, None) is None


def test_restores_previous_explicit_value(spark):
    spark.conf.set(_KEY, "true")
    try:
        with coalesced_shuffles(spark):
            assert spark.conf.get(_KEY) == "false"
        assert spark.conf.get(_KEY) == "true"
    finally:
        spark.conf.unset(_KEY)


def test_restores_on_raise(spark):
    spark.conf.unset(_KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with coalesced_shuffles(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(_KEY, None) is None


def test_wrapped_operators_leave_session_clean(spark):
    # end-to-end: pagerank and connected_components opt in internally;
    # after they return, the session conf must be back to unset.
    from lawlm_spark.operators.components import connected_components
    from lawlm_spark.operators.pagerank import pagerank

    spark.conf.unset(_KEY)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    comp = {
        (r["node"], r["component_id"])
        for r in connected_components(pairs).collect()
    }
    assert comp == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert spark.conf.get(_KEY, None) is None

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    ranks = pagerank(edges, iterations=2)
    # symmetric 3-cycle: every node has the same rank
    vals = {r["rank"] for r in ranks.collect()}
    assert len(vals) == 1
    assert spark.conf.get(_KEY, None) is None


def test_concurrent_driver_threads_serialize_and_restore(spark):
    """ADVICE r18 / VERDICT r18 item 5: two driver threads racing the
    set/restore must neither leak the policy into the session nor apply
    it to the other thread's region.  _SESSION_CONF_LOCK serializes the
    wrapped REGION, so while one thread is inside the block the other
    is parked before its set — and after both finish the key is back to
    unset."""
    import threading
    import time

    from lawlm_spark.operators.tuning import _SESSION_CONF_LOCK

    spark.conf.unset(_KEY)
    inside = []
    errs = []

    def worker(tag):
        try:
            with coalesced_shuffles(spark):
                inside.append(tag)
                # while held, the policy is applied and no other thread
                # can be mid-set (the lock covers the whole region)
                assert spark.conf.get(_KEY) == "false"
                time.sleep(0.05)
                assert inside[-1] == tag  # no interleaved entry
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert sorted(inside) == [0, 1, 2, 3]
    assert spark.conf.get(_KEY, None) is None
    # reentrancy: nesting on ONE thread must not deadlock (RLock)
    with coalesced_shuffles(spark):
        with _SESSION_CONF_LOCK:
            assert spark.conf.get(_KEY) == "false"
    assert spark.conf.get(_KEY, None) is None


def test_input_sized_shuffle_formula_and_restore(spark, tmp_path):
    """landing.input_sized_shuffle: partitions = ceil(bytes/advisory),
    floor 1, previous session value restored (r19)."""
    from lawlm_spark.streaming.landing import (
        _byte_string_as_bytes,
        input_bytes,
        input_sized_shuffle,
    )

    p = tmp_path / "feed"
    p.mkdir()
    (p / "a.bin").write_bytes(b"x" * 1000)
    (p / "b.bin").write_bytes(b"y" * 500)
    assert input_bytes(spark, str(p)) == 1500
    assert _byte_string_as_bytes("64MB") == 64 * 1024 * 1024
    assert _byte_string_as_bytes("128m") == 128 * 1024 * 1024
    assert _byte_string_as_bytes("1073741824") == 1 << 30
    old = spark.conf.get("spark.sql.shuffle.partitions")
    # 1500 bytes under a 64MB advisory -> 1 partition
    with input_sized_shuffle(spark, str(p)):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    # large synthetic input -> ceil division governs
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    try:
        with input_sized_shuffle(spark, str(p)):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    finally:
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
    # a mistyped path sizes to 0 bytes: the session value stays, instead
    # of silently pinning 1 partition
    missing = str(tmp_path / "no_such_feed")
    assert input_bytes(spark, missing) == 0
    with input_sized_shuffle(spark, missing):
        assert spark.conf.get("spark.sql.shuffle.partitions") == old
    assert spark.conf.get("spark.sql.shuffle.partitions") == old


def test_stream_releases_conf_lock_at_start(spark, monkeypatch):
    """A streaming runner's scoped conf ends at start(): while the
    query awaits termination another thread can enter a scoped block,
    the session value is already restored, and every micro-batch still
    runs with the scoped (input-sized) shuffle partitions, because the
    query cloned the session conf at start()."""
    import threading

    from pyspark.sql.streaming.query import StreamingQuery

    from lawlm_spark.streaming.events import run_streaming_session_counts
    from tests.conftest import SF_DIR

    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    assert session_value != "1"  # the sf0.001 landing sizes to 1 partition
    seen = {}
    real_await = StreamingQuery.awaitTermination

    def await_and_probe(self, timeout=None):
        entered = threading.Event()

        def other_thread():
            with coalesced_shuffles(spark):
                entered.set()

        seen["thread"] = threading.Thread(target=other_thread, daemon=True)
        seen["thread"].start()
        seen["entered"] = entered.wait(timeout=30)
        seen["session_value"] = spark.conf.get(key)
        out = real_await(self, timeout)
        seen["progress"] = self.recentProgress
        return out

    monkeypatch.setattr(StreamingQuery, "awaitTermination", await_and_probe)
    run_streaming_session_counts(spark, SF_DIR).count()
    # joined only after the runner returns: a runner that still held the
    # lock would otherwise deadlock against the probing thread
    seen["thread"].join()
    assert seen["entered"], "another thread was locked out while the stream awaited"
    assert seen["session_value"] == session_value
    parts = [
        op["numShufflePartitions"]
        for p in seen["progress"]
        for op in p.get("stateOperators", [])
    ]
    assert parts and set(parts) == {1}
