"""BatchLog: the one listing, live view, certification rule and commit
protocol behind every incremental store (streaming.dedup)."""

import os

import pytest


def _mkdirs(root, *names):
    for n in names:
        os.makedirs(os.path.join(root, n))
        with open(os.path.join(root, n, "marker"), "w") as f:
            f.write(n)


def _marker(root, name):
    with open(os.path.join(root, name, "marker")) as f:
        return f.read()


def _write_tail_names(tmp, tail):
    """A Spark-free `write` callback: records which tail dirs it merged."""
    os.makedirs(tmp)
    with open(os.path.join(tmp, "marker"), "w") as f:
        f.write(",".join(os.path.basename(d) for d in tail))


@pytest.fixture
def log_root(tmp_path):
    """compacted=2 prefix, a stale older prefix, an abandoned commit tmp,
    batches 0-3 (0 and 1 are sub-horizon replays) and a foreign file."""
    root = str(tmp_path / "store")
    _mkdirs(
        root, "compacted=1", "compacted=2", "compacted=5.tmp",
        "batch=000000000", "batch=000000001", "batch=000000002",
        "batch=000000003",
    )
    open(os.path.join(root, "_SUCCESS"), "w").close()
    return root


class TestListing:
    def test_prefix_batches_and_live_view(self, log_root):
        from osm2mp_spark.streaming.dedup import BatchLog

        log = BatchLog(None, log_root)
        assert log.n == 2 and log.comp.endswith("/compacted=2")
        assert list(log.batches) == [0, 1, 2, 3]
        names = lambda ds: [os.path.basename(d) for d in ds]  # noqa: E731
        # sub-horizon replays (0, 1) are never part of a view
        assert names(log.tail()) == ["batch=000000002", "batch=000000003"]
        assert names(log.tail(below=3)) == ["batch=000000002"]
        assert names(log.live(below=3)) == ["compacted=2", "batch=000000002"]
        assert names(log.live(below=2)) == ["compacted=2"]
        assert [log.covers(b) for b in range(6)] == [
            True, True, True, True, False, False,
        ]

    def test_empty_and_missing_roots(self, tmp_path):
        from osm2mp_spark.streaming.dedup import BatchLog, _store_dirs

        log = BatchLog(None, str(tmp_path / "absent"))
        assert (log.comp, log.n, log.batches) == (None, 0, {})
        assert log.live() == [] and log.live(below=0) == []
        assert _store_dirs(str(tmp_path / "absent"), below=7) == []

    def test_replay_horizon_guard(self, log_root):
        from osm2mp_spark.streaming.dedup import BatchLog, _store_dirs

        log = BatchLog(None, log_root)
        # a replay AT the horizon (N == below + 1) is the certified crash
        # window — allowed
        assert log.tail(below=1) == []
        # more than one batch behind the horizon — refused, on every view
        with pytest.raises(RuntimeError, match="compacted through batch 2"):
            log.tail(below=0)
        with pytest.raises(RuntimeError, match="ONE batch behind"):
            _store_dirs(log_root, below=0)


class TestCompact:
    def test_certified_selection_and_sub_horizon_drop(self, log_root):
        from osm2mp_spark.streaming.dedup import BatchLog

        # certified: sub-horizon replay 1 and tail batch 3; batch 2 (no
        # metrics row) must stay for its replay
        h = BatchLog(None, log_root).compact(
            lambda b: b in (1, 3), _write_tail_names
        )
        assert h == 4
        assert _marker(log_root, "compacted=4") == "batch=000000003"
        left = sorted(os.listdir(log_root))
        assert "batch=000000002" in left and "batch=000000000" in left
        for gone in ("batch=000000001", "batch=000000003", "compacted=2"):
            assert gone not in left

    def test_only_sub_horizon_replays_are_dropped_not_recommitted(
        self, log_root
    ):
        from osm2mp_spark.streaming.dedup import BatchLog

        def must_not_write(tmp, tail):
            raise AssertionError("recommitted at an unchanged horizon")

        h = BatchLog(None, log_root).compact(
            lambda b: b < 2, must_not_write
        )
        assert h == 2
        left = sorted(os.listdir(log_root))
        assert "batch=000000000" not in left
        assert "batch=000000001" not in left
        assert _marker(log_root, "compacted=2") == "compacted=2"

    def test_nothing_certified_is_a_no_op(self, log_root):
        from osm2mp_spark.streaming.dedup import BatchLog

        before = sorted(os.listdir(log_root))
        assert BatchLog(None, log_root).compact(
            lambda b: False, _write_tail_names
        ) == 2
        assert sorted(os.listdir(log_root)) == before

    @pytest.mark.parametrize("horizon", [1, 2])
    def test_commit_refuses_horizon_at_or_below_prefix(
        self, log_root, horizon
    ):
        from osm2mp_spark.streaming.dedup import BatchLog

        log = BatchLog(None, log_root)
        with pytest.raises(ValueError, match="refusing to commit"):
            log.commit(horizon, lambda tmp: _write_tail_names(tmp, []),
                       sources=list(log.batches.values()))
        # refused before anything was written or deleted
        assert _marker(log_root, "compacted=2") == "compacted=2"
        assert len(BatchLog(None, log_root).batches) == 4

    @pytest.mark.parametrize("mode", ["raises", "lies"])
    def test_failed_rename_loses_nothing(self, log_root, monkeypatch, mode):
        """A rename that raises, or one that reports success without the
        final dir materializing: strict commits raise, lenient ones return
        False, and neither deletes a source or the old prefix."""
        from osm2mp_spark.streaming import dedup

        def broken(src, dst, spark=None):
            if mode == "raises":
                raise IOError("planted rename failure")

        monkeypatch.setattr(dedup, "_rename", broken)
        log = dedup.BatchLog(None, log_root)
        srcs = list(log.batches.values())
        write = lambda tmp: _write_tail_names(tmp, [])  # noqa: E731
        with pytest.raises(IOError):
            log.commit(4, write, srcs)
        assert log.commit(4, write, srcs, strict=False) is False
        after = dedup.BatchLog(None, log_root)
        assert (after.comp, after.n) == (log.comp, 2)
        assert list(after.batches) == [0, 1, 2, 3]
        assert _marker(log_root, "compacted=2") == "compacted=2"


def _planted_store(spark, base, batches):
    """Signature, pairs and metrics batch dirs as process() leaves them."""
    from osm2mp_spark.operators.images import DHASH_WIDE_SCHEMA
    from osm2mp_spark.streaming.dedup import BATCH_METRICS_SCHEMA

    for b in batches:
        sigs = [
            (f"img{b}_{i}", b * 10 + i, i, b, 1) for i in range(3)
        ]
        spark.createDataFrame(sigs, DHASH_WIDE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{base}/store/batch={b:09d}")
        spark.createDataFrame(
            [(f"img{b}_0", f"img{b}_1", b)], "id_a string, id_b string, "
            "hamming int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{base}/pairs/batch={b:09d}"
        )
        spark.createDataFrame(
            [(b, 3, 1, 1.0, 3.0, 0, 0)], BATCH_METRICS_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{base}/store/metrics/batch={b:09d}"
        )


def _views(spark, base):
    from osm2mp_spark.streaming.dedup import (
        read_batch_metrics,
        read_pairs,
        read_store_signatures,
    )

    return (
        sorted(map(tuple, read_store_signatures(
            spark, f"{base}/store").collect())),
        sorted(map(tuple, read_pairs(spark, f"{base}/pairs").collect())),
        sorted(map(tuple, read_batch_metrics(
            spark, f"{base}/store").collect())),
    )


def test_planted_rename_failure_in_store_and_pairs_compaction(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6's lost-compaction hazard, end to end: a failed rename
    during compact_store / compact_pairs raises on the strict commits and
    is absorbed by the lenient metrics roll-up; every read view returns the
    same rows afterwards, and the next unpatched compaction commits."""
    from osm2mp_spark.streaming import dedup

    base = str(tmp_path)
    # batch 0 already compacted (store, pairs and metrics prefixes at 1):
    # a failed commit must not touch them either
    _planted_store(spark, base, [0])
    assert dedup.compact_store(spark, f"{base}/store", num_files=1) == 1
    assert dedup.compact_pairs(spark, f"{base}/pairs", f"{base}/store",
                               num_files=1) == 1
    _planted_store(spark, base, [1])
    want = _views(spark, base)
    real = dedup._rename

    def fail_all(src, dst, spark=None):
        raise IOError("planted rename failure")

    monkeypatch.setattr(dedup, "_rename", fail_all)
    with pytest.raises(IOError, match="planted"):
        dedup.compact_store(spark, f"{base}/store", num_files=1)
    with pytest.raises(IOError, match="planted"):
        dedup.compact_pairs(spark, f"{base}/pairs", f"{base}/store",
                            num_files=1)
    assert _views(spark, base) == want
    assert dedup.BatchLog(spark, f"{base}/store").n == 1

    def fail_metrics(src, dst, spark=None):
        if "/metrics/" in src:
            raise IOError("planted rename failure")
        real(src, dst, spark)

    # the store commit succeeds; its lenient metrics roll-up fails quietly
    monkeypatch.setattr(dedup, "_rename", fail_metrics)
    assert dedup.compact_store(spark, f"{base}/store", num_files=1) == 2
    metrics = dedup._metrics_log(spark, f"{base}/store")
    assert metrics.n == 1 and list(metrics.batches) == [1]
    assert _views(spark, base) == want

    monkeypatch.setattr(dedup, "_rename", real)
    assert dedup.compact_pairs(spark, f"{base}/pairs", f"{base}/store",
                               num_files=1) == 2
    assert _views(spark, base) == want
    # the metrics debt is paid by the next store commit
    _planted_store(spark, base, [2])
    want = _views(spark, base)
    assert dedup.compact_store(spark, f"{base}/store", num_files=1) == 3
    metrics = dedup._metrics_log(spark, f"{base}/store")
    assert metrics.n == 3 and not metrics.batches
    assert _views(spark, base) == want
