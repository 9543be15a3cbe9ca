"""session.scoped_conf: the one helper that sets session SQL conf for a
block and restores it, and the stream drains that hold it only across
``.start()``."""

from __future__ import annotations

import os
import sys
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ocs_duckdb_runner_spark.session import scoped_conf
from tests.conftest import SF_DIR, assert_matches_oracle

_KEY = "spark.ocs.test.scoped"
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_WIDTH = "spark.sql.shuffle.partitions"


def _restore(spark, key, prior):
    if prior is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prior)


def test_scoped_conf_restores_unset_and_prior_values(spark):
    assert spark.conf.get(_KEY, None) is None
    with scoped_conf(spark, {_KEY: "a"}):
        assert spark.conf.get(_KEY) == "a"
    assert spark.conf.get(_KEY, None) is None

    spark.conf.set(_KEY, "prior")
    try:
        with pytest.raises(RuntimeError):
            with scoped_conf(spark, {_KEY: "b"}):
                assert spark.conf.get(_KEY) == "b"
                raise RuntimeError("body failed")
        assert spark.conf.get(_KEY) == "prior"
    finally:
        spark.conf.unset(_KEY)


def test_scoped_conf_restores_keys_set_before_a_failing_set(spark):
    # a static conf cannot be set on a live session: the key set before
    # it is put back, and the error reaches the caller
    with pytest.raises(AnalysisException):
        with scoped_conf(
            spark, {_KEY: "a", "spark.sql.warehouse.dir": "/nonexistent"}
        ):
            pass
    assert spark.conf.get(_KEY, None) is None


def test_scoped_conf_blocks_never_interleave_across_threads(spark):
    """Threads (more than cores) each scope the same key to their own
    value, many times: each sees only its own value inside its block, and
    the key ends at its prior value."""
    spark.conf.set(_KEY, "prior")
    wrong: list[tuple[str, str]] = []

    def worker(mine: str) -> None:
        for _ in range(50):
            with scoped_conf(spark, {_KEY: mine}):
                for _ in range(3):
                    seen = spark.conf.get(_KEY)
                    if seen != mine:
                        wrong.append((mine, seen))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=worker, args=(f"v{i}",))
            for i in range(min(16, 2 * (os.cpu_count() or 2)))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert wrong == []
        assert spark.conf.get(_KEY) == "prior"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.unset(_KEY)


def test_read_events_stream_ns_fixture_leaves_nanos_flag(spark, tmp_path):
    """The timestamp[ns] branch builds its source under scoped_conf: the
    session's nanosAsLong is as it was, and the stream still delivers
    every row with µs timestamps."""
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _run_to_memory,
        read_events_stream,
    )

    n = 300
    t0 = np.datetime64("2024-01-01T00:00:00", "ns")
    ts = t0 + np.arange(n, dtype="int64") * np.int64(7_000_000_123)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": pa.array(np.arange(n) % 5, pa.int64()),
                "event_type": pa.array(["click", "view", "error"] * (n // 3)),
                "value": pa.array(np.arange(n) * 0.25),
                "props": pa.array(["{}"] * n),
            }
        ),
        tmp_path / "events.parquet",
    )
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == (
        pa.timestamp("ns")
    )
    prior = spark.conf.get(_NANOS, None)
    stream = read_events_stream(spark, str(tmp_path))
    assert spark.conf.get(_NANOS, None) == prior
    out = _run_to_memory(stream, "append")
    assert spark.conf.get(_NANOS, None) == prior
    assert out.count() == n
    lo, hi = out.agg(F.min("ts"), F.max("ts")).first()
    want = pd.to_datetime(ts).floor("us")
    assert pd.Timestamp(lo) == want.min()
    assert pd.Timestamp(hi) == want.max()


def test_stream_width_scoped_to_start_only(spark, monkeypatch):
    """A drain through _run_to_memory(..., sf_dir) runs its state operator
    at _stream_shuffle_width, while the session already reads its own
    width again during awaitTermination."""
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _stream_shuffle_width,
        stream_tumbling_wm,
    )

    width = _stream_shuffle_width(spark, SF_DIR)
    prior = spark.conf.get(_WIDTH, None)
    session_width = str(width + 3)
    spark.conf.set(_WIDTH, session_width)
    seen: dict = {}
    original = StreamingQuery.awaitTermination

    def spy(self, timeout=None):
        seen["width_during_drain"] = spark.conf.get(_WIDTH)
        done = original(self, timeout)
        seen["progress"] = self.lastProgress
        return done

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    try:
        out = stream_tumbling_wm(spark, SF_DIR)
        assert out.count() > 0
        assert seen["width_during_drain"] == session_width
        ops = seen["progress"]["stateOperators"]
        assert ops and ops[0]["numShufflePartitions"] == width
        assert spark.conf.get(_WIDTH) == session_width
    finally:
        _restore(spark, _WIDTH, prior)


@pytest.mark.parametrize(
    "name",
    ["stream_tumbling_wm", "stream_state_reader", "stream_python_datasource"],
)
def test_stream_drain_leaves_no_sink_view(spark, duck, name):
    """Each memory-sink path drops its temp view once the result frame is
    resolved, and the result still matches its oracle."""
    assert_matches_oracle(spark, duck, name)
    left = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("stream_", "pyds_"))
    ]
    assert left == []


def test_pushdown_falls_back_when_conf_cannot_be_set(
    spark, duck, monkeypatch, caplog
):
    """src_python_datasource_pushdown keeps its fallback: when the
    pushdown conf cannot be set, it logs why and reads the plain source,
    with the same rows."""
    from ocs_duckdb_runner_spark.sources import python_datasource as pds

    def refuse(_spark, _settings):
        raise RuntimeError("conf is locked")

    monkeypatch.setattr(pds, "scoped_conf", refuse)
    with caplog.at_level("WARNING", logger=pds.__name__):
        assert_matches_oracle(spark, duck, "src_python_datasource_pushdown")
    assert "conf is locked" in caplog.text
