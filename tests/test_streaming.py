from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from databricks_observe_spark.operators.runs import first_completed
from databricks_observe_spark.streaming import state as ST

SF_DIR = "/root/testdata/sf0.001"


def test_first_completed_stream_matches_batch(spark, tables):
    ckpt = tempfile.mkdtemp(prefix="ckpt_fc_")
    q = ST.first_completed_stream(spark, SF_DIR, ckpt, "fc_stream")
    q.awaitTermination(120)
    got = {
        (r.entity_id, r.update_id)
        for r in spark.sql("SELECT * FROM fc_stream").collect()
    }
    expected = {
        (r.entity_id, r.update_id) for r in first_completed(tables).collect()
    }
    # streaming dedup keeps the first COMPLETED per key — same key set as
    # the batch exactly-once summary (watermark drops nothing here: all
    # events fit one availableNow run)
    assert got == expected


def test_tumbling_stream_matches_batch(spark, tables):
    ckpt = tempfile.mkdtemp(prefix="ckpt_tw_")
    q = ST.tumbling_counts_stream(spark, SF_DIR, ckpt, "tw_stream")
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tw_stream").collect()
    }
    batch = (
        tables["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expected = {(r.w.start, r.event_type): r.n for r in batch}
    # availableNow + watermark: windows older than (max ts - 1h) are final
    # and emitted; the tail windows within the watermark stay open. Every
    # emitted window must match the batch result exactly.
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_transition_log_sink_exactly_once_across_restart(spark):
    ckpt = tempfile.mkdtemp(prefix="ckpt_log_")
    out = tempfile.mkdtemp(prefix="translog_") + "/log"
    q = ST.transition_log_stream(spark, SF_DIR, ckpt, out)
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    n = df.count()
    assert n > 0
    assert "event_date" in df.columns  # partition column survived
    keys = df.select("entity_id", "update_id").collect()
    assert len(keys) == len({(r.entity_id, r.update_id) for r in keys})

    # restart from the same checkpoint over the same source: the cursor
    # (checkpoint state) suppresses every already-emitted key — the sink
    # is unchanged. This is the sensor's persisted-cursor semantics
    # (dlt_sensor.py:43-46) under process restart.
    q2 = ST.transition_log_stream(spark, SF_DIR, ckpt, out)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n


def test_sessionize_stream_custom_state(spark, tables):
    import tempfile as _tf

    from databricks_observe_spark.operators.events import user_sessions

    ckpt = _tf.mkdtemp(prefix="ckpt_sess_")
    q = ST.sessionize_stream(spark, SF_DIR, ckpt, "sess_stream")
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S.%f")): (
            r.n_events,
            round(r.sum_value, 2),
        )
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    batch = {
        (r.user_id, r.session_start): (r.n_events, round(r.sum_value, 2))
        for r in user_sessions(tables).collect()
    }
    # single availableNow batch: every session except each user's final
    # (still-open) one is emitted, and each must match the batch operator
    n_users = tables["events"].select("user_id").distinct().count()
    assert len(got) == len(batch) - n_users
    for k, v in got.items():
        assert batch[k] == v, (k, v, batch.get(k))


def test_watermark_drops_late_completion(spark, tmp_path):
    """Two-batch replay with a late re-poll: an event older than the
    watermark bound arriving in a later batch is evicted, so the sensor
    state cannot regrow without bound (the 100 TB property)."""
    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "stream_src"
    src.mkdir()
    # batch 1: two completions an hour apart (advances watermark past t0)
    pd.DataFrame(
        {
            "event_id": [0, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 06:00:00"]).astype("int64"),
            "user_id": [2, 4],
            "event_type": ["purchase", "purchase"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    ).to_parquet(src / "b1.parquet")
    out = str(tmp_path / "wm_log")
    q1 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q1.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # batch 2: a NEW update key, but its ts is far older than
    # (max_ts - 1h watermark) -> dropDuplicates state admits nothing late
    pd.DataFrame(
        {
            "event_id": [2],
            "ts": pd.to_datetime(["2024-01-01 00:30:00"]).astype("int64"),
            "user_id": [6],
            "event_type": ["purchase"],
            "value": [3.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b2.parquet")
    q2 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2  # late event evicted, log unchanged


def test_within_watermark_dedup_bounds_state(spark, tmp_path):
    """Documents the bounded-state trade: a re-poll of an already-emitted
    key arriving AFTER the watermark passed it is re-emitted, because its
    dedup state was evicted — the price of O(active-updates) state. The
    sensor-parity assumption (re-polls within 1h) keeps the two semantics
    identical in practice."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    # same user (2 -> entity pl-002, even) and same event_id%211 -> same key
    pd.DataFrame(
        {
            "event_id": [211],
            "ts": pd.to_datetime(["2024-01-01 00:00:00"]).astype("int64"),
            "user_id": [2],
            "event_type": ["purchase"],
            "value": [1.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b1.parquet")
    out = str(tmp_path / "log")
    q1 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q1.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1

    # filler batch advances the watermark past the first key's expiry
    # (the watermark moves between micro-batches, not within one)
    pd.DataFrame(
        {
            "event_id": [500],
            "ts": pd.to_datetime(["2024-01-01 10:00:00"]).astype("int64"),
            "user_id": [4],
            "event_type": ["purchase"],
            "value": [2.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b2.parquet")
    q2 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # re-poll of the SAME (entity, update) key: its state was evicted when
    # the watermark passed (first_ts + 1h) -> re-emitted
    pd.DataFrame(
        {
            "event_id": [422],  # 422 % 211 == 0 -> same update_id u0
            "ts": pd.to_datetime(["2024-01-01 10:01:00"]).astype("int64"),
            "user_id": [2],
            "event_type": ["purchase"],
            "value": [3.0],
            "props": ["{}"],
        }
    ).to_parquet(src / "b3.parquet")
    q3 = ST.transition_log_stream(spark, str(src), str(tmp_path / "ck"), out, glob="*.parquet")
    q3.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def test_click_attribution_stream_matches_batch(spark, tables):
    """Inner stream-stream interval joins emit on match (no watermark
    hold), so the availableNow run must equal the batch interval join
    row-for-row."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_ca_")
    q = ST.click_attribution_stream(spark, SF_DIR, ckpt, "ca_stream")
    assert q.awaitTermination(120)
    got = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_us)
        for r in spark.sql("SELECT * FROM ca_stream").collect()
    }
    ev = tables["events"]
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 2 HOURS AND c_ts < p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    expected = {
        (r.purchase_id, r.click_id, r.user_id, r.gap_us) for r in batch.collect()
    }
    assert got == expected and got


def test_corpus_dedup_stream_exactly_once(spark, tables):
    from databricks_observe_spark.streaming.state import (
        streaming_corpus_dedup_query,
    )

    got = {r.text_hash for r in streaming_corpus_dedup_query(spark, SF_DIR).collect()}
    want = {
        r.h
        for r in tables["documents"].select(F.md5("text").alias("h")).distinct().collect()
    }
    assert got == want and len(got) > 0


def test_sessionize_tws_matches_apply_in_pandas_twin(spark, tables):
    # the transformWithState fold must emit the exact same closed-session
    # set as the applyInPandasWithState fold (same state, same rounding).
    # The successor API's state server needs google.protobuf — absent in
    # this sandbox, the twin raises a documented ImportError instead.
    import pytest

    from databricks_observe_spark.streaming.state import _protobuf_available

    if not _protobuf_available():
        with pytest.raises(ImportError, match="google.protobuf"):
            ST.streaming_sessionize_tws_query(spark, SF_DIR)
        pytest.skip("google.protobuf not shipped in this environment")
    a = {
        tuple(r)
        for r in ST.streaming_sessionize_query(spark, SF_DIR).collect()
    }
    b = {
        tuple(r)
        for r in ST.streaming_sessionize_tws_query(spark, SF_DIR).collect()
    }
    assert a == b and len(a) > 0


def test_streaming_drift_psi_matches_batch_and_recovers_state(spark, tables):
    """The streaming monitor must equal the batch operator row-for-row
    (same bins, same integer PSI units, same oracle by construction),
    and a restart against the same checkpoint with no new data must
    recover the identical complete-mode state."""
    import uuid

    from databricks_observe_spark.operators.events import drift_psi

    got = {tuple(r) for r in ST.streaming_drift_psi_query(spark, SF_DIR).collect()}
    want = {tuple(r) for r in drift_psi(tables).collect()}
    assert got == want and len(got) > 0

    # checkpoint recovery: run the SAME histogram stream twice against
    # one checkpoint dir; the second availableNow run sees no new files
    # and must re-emit exactly the maintained state, not double-count
    ckpt = tempfile.mkdtemp(prefix="ckpt_dp_replay_")
    n1 = f"dp_r1_{uuid.uuid4().hex[:6]}"
    n2 = f"dp_r2_{uuid.uuid4().hex[:6]}"
    q = ST.drift_counts_stream(spark, SF_DIR, ckpt, n1)
    q.awaitTermination(120)
    q = ST.drift_counts_stream(spark, SF_DIR, ckpt, n2)
    q.awaitTermination(120)
    first = {tuple(r) for r in spark.table(n1).collect()}
    second = {tuple(r) for r in spark.table(n2).collect()}
    # a restart with no new data re-emits the recovered state (complete
    # mode) or emits nothing if the no-op batch is skipped — either way
    # it must never double-count
    assert second == first or second == set()
    # the drift operators exclude NULL values by contract, so the state's
    # total must match the non-NULL event count (not the raw row count —
    # the raw form silently assumes a NULL-free fixture)
    assert (
        sum(r[2] + r[3] for r in first)
        == tables["events"].filter(F.col("value").isNotNull()).count()
    )


# State-store count every stateful stream maker must start on: a maker
# that starts outside streaming.state.start_stream runs on the session's
# batch width and fails here instead of only running slow.
_MAKER_STATE_PARTITIONS = {
    "first_completed_stream": ST.STREAM_SHUFFLE_PARTITIONS,
    "tumbling_counts_stream": ST.STREAM_SHUFFLE_PARTITIONS,
    "click_attribution_stream": ST.STREAM_SHUFFLE_PARTITIONS,
    "sessionize_stream": ST.SESSIONIZE_SHUFFLE_PARTITIONS,
    "transition_log_stream": ST.STREAM_SHUFFLE_PARTITIONS,
    "corpus_dedup_stream": ST.STREAM_SHUFFLE_PARTITIONS,
    "drift_counts_stream": ST.STREAM_SHUFFLE_PARTITIONS,
    "sessionize_tws_stream": ST.SESSIONIZE_SHUFFLE_PARTITIONS,
}


def _state_widths(q) -> set[int]:
    return {s.numShufflePartitions for p in q.recentProgress for s in p.stateOperators}


def test_every_stream_maker_pins_state_partitions(spark, tmp_path):
    import inspect

    import pandas as pd

    makers = {
        name
        for name, fn in inspect.getmembers(ST, inspect.isfunction)
        if fn.__module__ == ST.__name__
        and "checkpoint_dir" in inspect.signature(fn).parameters
    }
    assert makers == set(_MAKER_STATE_PARTITIONS)

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3],
            "ts": pd.to_datetime(
                [f"2024-01-01 {hm}" for hm in ("00:00", "00:30", "01:00", "05:00")]
            ).astype("int64"),
            "user_id": [2, 2, 2, 3],
            "event_type": ["click", "purchase", "signup", "purchase"],
            "value": [1.0, 2.0, 3.0, 4.0],
            "props": ["{}"] * 4,
        }
    ).to_parquet(src / "events.parquet")
    pd.DataFrame({"doc_id": [0, 1, 2], "text": ["a", "b", "a"]}).to_parquet(
        src / "documents.parquet"
    )

    batch_width = spark.conf.get("spark.sql.shuffle.partitions")
    assert batch_width not in set(_MAKER_STATE_PARTITIONS.values())
    for name, width in _MAKER_STATE_PARTITIONS.items():
        if name == "sessionize_tws_stream" and not ST._protobuf_available():
            continue  # needs google.protobuf; see test_sessionize_tws_*
        out = str(tmp_path / "log") if name == "transition_log_stream" else f"pin_{name}"
        q = getattr(ST, name)(spark, str(src), str(tmp_path / f"ck_{name}"), out)
        assert q.awaitTermination(120), name
        assert _state_widths(q) == {int(width)}, name
        # the pin is scoped to the start: batch queries keep their width
        assert spark.conf.get("spark.sql.shuffle.partitions") == batch_width


def test_transition_log_restarts_on_its_recorded_state_width(spark, tmp_path, monkeypatch):
    """A sensor checkpoint written at the session's batch width of 32
    state partitions restarts under the pinned start with its 32 stores
    (Spark restores the count from the offset log, not the conf), and
    after one more file lands the log still holds exactly the batch
    COMPLETED key set."""
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF_DIR}/events.parquet").sort_by("ts")
    half = events.num_rows // 2
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(events.slice(0, half), src / "a.parquet")
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "log")

    with monkeypatch.context() as m:
        m.setattr(ST, "STREAM_SHUFFLE_PARTITIONS", "32")
        q1 = ST.transition_log_stream(spark, str(src), ckpt, out, glob="*.parquet")
        assert q1.awaitTermination(120)
    assert _state_widths(q1) == {32}
    n1 = spark.read.parquet(out).count()

    # later-ordered half: nothing in it is older than the watermark
    pq.write_table(events.slice(half), src / "b.parquet")
    q2 = ST.transition_log_stream(spark, str(src), ckpt, out, glob="*.parquet")
    assert q2.awaitTermination(120)
    assert q2.exception() is None
    assert _state_widths(q2) == {32}
    assert sum(p.numInputRows for p in q2.recentProgress) == events.num_rows - half

    keys = ["entity_type", "entity_id", "update_id"]
    log = spark.read.parquet(out)
    assert log.count() > n1
    got = {tuple(r) for r in log.select(*keys).distinct().collect()}
    want = {
        tuple(r)
        for r in ST.stream_updates(spark.read.parquet(str(src)))
        .filter(F.col("state") == ST.TERMINAL_STATE)
        .select(*keys)
        .distinct()
        .collect()
    }
    assert got == want and got
