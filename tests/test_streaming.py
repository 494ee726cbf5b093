"""Streaming twins vs batch semantics (Trigger.AvailableNow over the
static fixture directory — the documented correctness story for the
streaming path)."""

from __future__ import annotations

import pytest

from roblox_vector_search_datagen_spark.streaming import events as S

def _collect_set(rows, cols):
    return {tuple(getattr(r, c) for c in cols) for r in rows}

def test_stream_windowed_counts_equals_batch(spark, sf_dir):
    batch = S.windowed_event_counts(spark, sf_dir).collect()
    q = S.run_stream_to_memory(S.stream_windowed_event_counts(spark, sf_dir), "win_counts")
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM win_counts").collect()
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _collect_set(streamed, cols) == _collect_set(batch, cols)
    assert len(batch) > 0

def test_stream_sessionize_matches_batch_sessions(spark, sf_dir):
    batch = S.sessionize(spark, sf_dir).collect()
    q = S.run_stream_to_memory(S.stream_sessionize(spark, sf_dir), "sessions")
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM sessions").collect()
    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert _collect_set(streamed, cols) == _collect_set(batch, cols)
    assert len(batch) > 0

def test_stream_enriched_events_equals_batch(spark, sf_dir):
    """Stream-static join twin: append-mode output over the static
    directory equals the batch enrichment row-for-row."""
    batch = S.enriched_events(spark, sf_dir).collect()
    q = S.run_stream_to_memory(
        S.stream_enriched_events(spark, sf_dir), "enriched", output_mode="append"
    )
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM enriched").collect()
    cols = ["event_id", "user_id", "event_type", "value", "c_mktsegment", "nation"]
    assert _collect_set(streamed, cols) == _collect_set(batch, cols)
    assert len(batch) > 0

def test_foreachbatch_parquet_sink_is_idempotent(spark, sf_dir, tmp_path):
    """Exactly-once contract: draining the same bounded stream twice
    (fresh checkpoint the second time, simulating a reprocess into the
    same directory) yields the batch row count once, not twice —
    batch-scoped overwrite makes replays self-replacing."""
    from roblox_vector_search_datagen_spark.streaming import sinks

    batch_n = S.enriched_events(spark, sf_dir).count()
    out = str(tmp_path / "out")
    for i in range(2):
        q = sinks.stream_to_parquet_idempotent(
            S.stream_enriched_events(spark, sf_dir), out, str(tmp_path / f"ckpt{i}")
        )
        q.awaitTermination(120)
    assert spark.read.parquet(out).count() == batch_n > 0

@pytest.mark.slow
def test_stream_merge_keep_last_upserts_and_publishes_atomically(spark, tmp_path):
    """The portable transactional MERGE sink: microbatches with
    overlapping keys upsert keep-last into a versioned snapshot whose
    CURRENT marker repoints atomically per commit — the final snapshot
    equals the keep-last fold of the feed, replays no-op, and each
    commit collects the version it superseded (retain = pointed)."""
    import glob as _glob
    import os
    import time as _time

    from roblox_vector_search_datagen_spark.functions import warehouse as W
    from roblox_vector_search_datagen_spark.streaming import sinks

    # ordered two-batch feed with a key overlap (same trick as
    # test_streaming_vectors._embedding_feed)
    feed = tmp_path / "mfeed"
    feed.mkdir()
    t0 = _time.time() - 1000
    batches = [
        [(1, "a", 10), (2, "b", 20)],
        [(2, "B", 21), (3, "c", 30), (3, "C", 31)],  # upsert 2, in-batch dup 3
    ]
    for i, rows in enumerate(batches):
        stage = tmp_path / f"mstage{i}"
        spark.createDataFrame(rows, "id long, name string, ver int").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        part = _glob.glob(str(stage / "part-*.parquet"))[0]
        dst = feed / f"b{i:02d}.parquet"
        import shutil

        shutil.copy(part, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))

    out_base = str(tmp_path / "merged")
    raw = (
        spark.readStream.schema("id long, name string, ver int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
    )
    q = sinks.stream_merge_keep_last(
        raw, out_base, ["id"], str(tmp_path / "mckpt"), order_col="ver"
    )
    q.awaitTermination(120)

    snap = {r.id: (r.name, r.ver) for r in sinks.current_snapshot(spark, out_base).collect()}
    assert snap == {1: ("a", 10), 2: ("B", 21), 3: ("C", 31)}
    # commit-time retention (retain = pointed, r11): each batch commit
    # collects the version it superseded, so exactly ONE version
    # survives and the marker points at it
    versions = sorted(_glob.glob(out_base + "_v*"))
    assert len(versions) == 1
    assert W.read_current(out_base) == versions[-1]

    # reprocess the same bounded feed with a fresh checkpoint: the
    # keep-last merge is idempotent — same snapshot values
    q2 = sinks.stream_merge_keep_last(
        raw, out_base, ["id"], str(tmp_path / "mckpt2"), order_col="ver"
    )
    q2.awaitTermination(120)
    snap2 = {
        r.id: (r.name, r.ver) for r in sinks.current_snapshot(spark, out_base).collect()
    }
    assert snap2 == snap


def test_stream_merge_delta_gate_raises_without_runtime(spark, sf_dir, tmp_path):
    """The Delta arm is capability-gated: with no delta runtime on the
    classpath it must raise the remediation error (never silently fall
    back or half-write), and the gate itself reports False here."""
    import pytest

    from roblox_vector_search_datagen_spark.streaming import sinks

    if sinks.delta_available():  # pragma: no cover - not this container
        pytest.skip("delta runtime present; gate test targets its absence")
    with pytest.raises(RuntimeError, match="stream_merge_keep_last"):
        sinks.stream_merge_delta(
            S.stream_enriched_events(spark, sf_dir),
            str(tmp_path / "delta"),
            ["event_id"],
            str(tmp_path / "dckpt"),
        )


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """applyInPandasWithState custom operator: the last update emitted
    per user equals the batch aggregate (float compared with tolerance —
    pandas partial sums accumulate in a different order than the batch
    agg)."""
    batch = {r.user_id: r for r in S.running_user_totals_batch(spark, sf_dir).collect()}
    q = S.run_stream_to_memory(
        S.stream_running_user_totals(spark, sf_dir), "running_totals", output_mode="update"
    )
    q.awaitTermination(120)
    latest = {}
    for r in spark.sql("SELECT * FROM running_totals").collect():
        # update mode: totals are monotone, so the row with the highest
        # n_events is the final state regardless of sink row order
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    assert set(latest) == set(batch) and len(batch) > 0
    for uid, b in batch.items():
        s = latest[uid]
        assert s.n_events == b.n_events, uid
        assert abs(s.sum_value - b.sum_value) < 1e-6, uid

@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch_counts(spark, sf_dir):
    """Watermarked stream-stream join == the batch interval join's
    per-purchase counts (restricted to purchases with >=1 click, the
    inner-join subset)."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.operators import timeseries

    batch = {
        (r.purchase_id, r.n_clicks)
        for r in timeseries.interval_click_counts(spark, sf_dir).collect()
        if r.n_clicks > 0
    }
    q = S.run_stream_to_memory(
        S.stream_interval_click_purchases(spark, sf_dir), "ss_join", output_mode="append"
    )
    q.awaitTermination(120)
    streamed = {
        (r.purchase_id, r.n)
        for r in spark.sql(
            "SELECT purchase_id, count(*) AS n FROM ss_join GROUP BY purchase_id"
        ).collect()
    }
    assert streamed == batch
    assert len(batch) > 0

def test_stream_ingest_dedup_matches_batch(spark, sf_dir):
    """Stream-static anti-join dedup-at-ingest == batch twin."""
    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {(r.doc_id, r.digest) for r in ingest.ingest_dedup(spark, sf_dir).collect()}
    q = S.run_stream_to_memory(
        ingest.stream_ingest_dedup(spark, sf_dir), "ingest_dedup", output_mode="append"
    )
    q.awaitTermination(120)
    streamed = {
        (r.doc_id, r.digest) for r in spark.sql("SELECT * FROM ingest_dedup").collect()
    }
    assert streamed == batch
    assert len(batch) > 0

def test_stream_sliding_counts_equals_batch(spark, sf_dir):
    batch = S.sliding_event_counts(spark, sf_dir).collect()
    q = S.run_stream_to_memory(S.stream_sliding_event_counts(spark, sf_dir), "slide_counts")
    q.awaitTermination(120)
    streamed = spark.sql("SELECT * FROM slide_counts").collect()
    cols = ["window_start", "event_type", "n", "sum_value"]
    assert _collect_set(streamed, cols) == _collect_set(batch, cols)
    # every event lands in exactly window/slide = 3 windows
    from roblox_vector_search_datagen_spark.sources import tables

    n_events = tables.load_table(spark, sf_dir, "events").count()
    assert sum(r.n for r in batch) == 3 * n_events

def test_stream_ingest_near_dedup_matches_batch(spark, sf_dir):
    """Per-band stream-static probes == exploded batch anti-join; the
    stream twin is stateless (append mode, no watermark)."""
    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {r.doc_id for r in ingest.ingest_near_dedup(spark, sf_dir).collect()}
    q = S.run_stream_to_memory(
        ingest.stream_ingest_near_dedup(spark, sf_dir),
        "ingest_near_dedup",
        output_mode="append",
    )
    q.awaitTermination(120)
    streamed = {
        r.doc_id for r in spark.sql("SELECT * FROM ingest_near_dedup").collect()
    }
    assert streamed == batch
    assert 0 < len(batch)
    # near-dedup is strictly stronger than exact dedup at ingest: every
    # survivor of the band filter also survives the digest filter
    exact = {r.doc_id for r in ingest.ingest_dedup(spark, sf_dir).collect()}
    assert batch <= exact

def test_stream_rate_limit_matches_batch(spark, sf_dir):
    """The stateful streaming admission counter reproduces the batch
    rate_limited_events verdict per event when the fixture arrives
    in order (one microbatch)."""
    from roblox_vector_search_datagen_spark.operators.timeseries import rate_limited_events

    batch = {
        r.event_id: (r.seq_in_win, r.admitted)
        for r in rate_limited_events(spark, sf_dir).collect()
    }
    q = S.run_stream_to_memory(
        S.stream_rate_limited_events(spark, sf_dir), "rate_limited", output_mode="update"
    )
    q.awaitTermination(120)
    streamed = {
        r.event_id: (r.seq_in_win, r.admitted)
        for r in spark.sql("SELECT * FROM rate_limited").collect()
    }
    assert len(batch) > 0 and set(streamed) == set(batch)
    assert streamed == batch


# ---------------------------------------------------------------------------
# Late-data / watermark semantics (out-of-order multi-microbatch feeds)
# ---------------------------------------------------------------------------

def _feed_dir(spark, tmp_path, batches):
    """One parquet file per batch with strictly increasing mtimes, so a
    maxFilesPerTrigger=1 file stream replays them as separate ordered
    microbatches — the only way to make watermark advancement (a
    batch-boundary effect) deterministic in a test."""
    import glob
    import os
    import shutil
    import time as _time

    feed = tmp_path / "feed"
    feed.mkdir()
    t0 = _time.time() - 1000
    for i, rows in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(
            rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        dst = feed / f"b{i:02d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))
    return str(feed)


def _raw_stream(spark, feed):
    from pyspark.sql import functions as F

    s = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    return s.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.mark.slow
def test_windowed_agg_drops_late_data_behind_watermark(spark, tmp_path):
    """Out-of-order feed with a late straggler: once the watermark
    (max ts - 1h, which Spark propagates with a one-trigger lag) has
    passed the straggler's window AND that window was emitted, the
    straggler must be DROPPED — the streamed append output equals the
    batch twin over the feed MINUS the straggler, and differs from the
    batch twin over the full feed by exactly that row."""
    from datetime import datetime as dt

    def e(i, h, m):
        return (i, dt(2024, 3, 1, h, m), 1, "click", 1.0)

    # batch 0: shuffled event times spanning 10:00-12:59
    b0 = [e(1, 12, 10), e(2, 10, 20), e(3, 11, 40), e(4, 10, 50), e(5, 12, 59), e(6, 11, 5)]
    # batch 1: on-time 13:30 — the 11:59 watermark from batch 0 takes
    # effect here and closes the 10:00 and 11:00 windows
    b1 = [e(8, 13, 30)]
    # batch 2: the straggler at 10:05 — two triggers behind, its window
    # already finalized: must be dropped, never re-emitted
    b2 = [e(7, 10, 5)]
    # batch 3: flush event far ahead so every window of interest closes
    b3 = [e(9, 20, 0)]
    feed = _feed_dir(spark, tmp_path, [b0, b1, b2, b3])

    q = S.run_stream_to_memory(
        S.stream_windowed_event_counts(spark, None, raw=_raw_stream(spark, feed)),
        "late_win_counts",
        output_mode="append",
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM late_win_counts").collect()
    }
    expected = {
        (dt(2024, 3, 1, 10, 0), 2, 2.0),  # straggler NOT counted
        (dt(2024, 3, 1, 11, 0), 2, 2.0),
        (dt(2024, 3, 1, 12, 0), 2, 2.0),
        (dt(2024, 3, 1, 13, 0), 1, 1.0),
        # flush window [20:00, 21:00) never closes -> absent in append
    }
    assert got == expected
    # the batch twin over the FULL feed counts the straggler — the
    # streamed result differs from it by exactly that dropped row
    assert (dt(2024, 3, 1, 10, 0), 3, 3.0) not in got


@pytest.mark.slow
def test_rate_limit_admission_is_arrival_order_across_microbatches(spark, tmp_path):
    """The stateful rate limiter's documented contract: within a
    microbatch, (ts, event_id) order; ACROSS microbatches, arrival
    order — an admitted event is never revoked when an earlier-ts event
    arrives late. Feed 7 events of one (user, window) as 4-then-3 with
    the late batch carrying the two EARLIEST timestamps: the limit-5
    admission set must be batch-1's four plus the first (by ts) of
    batch 2 — not the five earliest overall timestamps."""
    from datetime import datetime as dt

    def e(i, m, s):
        return (i, dt(2024, 3, 1, 10, m, s), 1, "click", 1.0)

    b0 = [e(11, 4, 0), e(12, 5, 0), e(13, 6, 0), e(14, 7, 0)]
    b1 = [e(15, 1, 0), e(16, 0, 30), e(17, 8, 0)]  # two earliest arrive LATE
    feed = _feed_dir(spark, tmp_path, [b0, b1])

    q = S.run_stream_to_memory(
        S.stream_rate_limited_events(spark, None, raw=_raw_stream(spark, feed)),
        "late_rate_limited",
        output_mode="update",
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM late_rate_limited").collect()
    admitted = {r.event_id for r in rows if r.admitted}
    # batch 1 admits 11-14 (seq 1-4); batch 2 sorts by ts -> 16 (seq 5,
    # admitted), 15 (seq 6), 17 (seq 7). Event-time order would have
    # admitted {16, 15, 11, 12, 13} — arrival order must win.
    assert admitted == {11, 12, 13, 14, 16}
    assert {r.event_id: r.seq_in_win for r in rows}[17] == 7


@pytest.mark.slow
def test_session_window_late_event_merges_open_sessions(spark, tmp_path):
    """The hardest watermark case: a late-arriving event can MERGE two
    already-open sessions. Events at 10:00 and 10:50 (gap 50 min > the
    30-min session gap) form two sessions; a bridging 10:25 event
    arrives one microbatch later but still within the 2-hour watermark,
    so the state store must coalesce the two sessions into one — the
    streamed append output equals the batch twin over the FULL feed
    (one 3-event session), not two 1-event sessions."""
    from datetime import datetime as dt

    def e(i, h, m):
        return (i, dt(2024, 3, 1, h, m), 1, "click", 1.0)

    b0 = [e(1, 10, 0), e(2, 10, 50)]
    b1 = [e(3, 10, 25)]  # bridges: 10:00..10:25..10:50, all gaps < 30m
    b2 = [e(4, 20, 0)]  # flush: watermark 18:00 closes everything real
    feed = _feed_dir(spark, tmp_path, [b0, b1, b2])

    q = S.run_stream_to_memory(
        S.stream_sessionize(spark, None, raw=_raw_stream(spark, feed)),
        "late_sess_merge",
        output_mode="append",
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM late_sess_merge").collect()
    }
    # one merged session; the flush session (20:00) never closes
    assert got == {(1, dt(2024, 3, 1, 10, 0), 3, 3.0)}


@pytest.mark.slow
def test_session_window_straggler_behind_watermark_is_dropped(spark, tmp_path):
    """Once the watermark finalized the two sessions, the same bridging
    event must be DROPPED: the streamed output equals the batch twin
    over the feed MINUS the straggler (two 1-event sessions) and
    documents the divergence from the full-feed batch twin (which
    would merge them). Spark filters late events against the PREVIOUS
    trigger's watermark (the late-events watermark lags the eviction
    watermark by one batch — verified empirically: a straggler one
    trigger earlier is still admitted and MERGES, the companion test
    above), so the straggler lands two on-time batches after the
    watermark-advancing event."""
    from datetime import datetime as dt

    def e(i, h, m):
        return (i, dt(2024, 3, 1, h, m), 1, "click", 1.0)

    b0 = [e(1, 10, 0), e(2, 10, 50)]
    # on-time 13:30: eviction watermark becomes 11:30 one trigger
    # later, passing both session ends (10:30, 11:20)
    b1 = [e(5, 13, 30)]
    # on-time 13:45 (same session as 13:30): during this trigger the
    # two early sessions finalize and emit; the late-events watermark
    # for the NEXT trigger is now 11:30
    b2 = [e(6, 13, 45)]
    b3 = [e(3, 10, 25)]  # straggler behind the late-events watermark: dropped
    b4 = [e(4, 20, 0)]  # flush closes the 13:30 session
    feed = _feed_dir(spark, tmp_path, [b0, b1, b2, b3, b4])

    q = S.run_stream_to_memory(
        S.stream_sessionize(spark, None, raw=_raw_stream(spark, feed)),
        "late_sess_drop",
        output_mode="append",
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM late_sess_drop").collect()
    }
    assert got == {
        (1, dt(2024, 3, 1, 10, 0), 1, 1.0),
        (1, dt(2024, 3, 1, 10, 50), 1, 1.0),
        (1, dt(2024, 3, 1, 13, 30), 2, 2.0),
    }
    # divergence from the full-feed batch twin is exactly the merge the
    # dropped straggler would have caused
    assert (1, dt(2024, 3, 1, 10, 0), 3, 3.0) not in got


def test_stream_order_audit_counts_sum_to_batch_twin(spark, sf_dir, tmp_path):
    """The per-microbatch constraint monitor: summed over batches, the
    streamed audit log equals the batch twin exactly (stateless checks
    are additive), every batch reports all three constraints, and a
    reprocess with a fresh checkpoint does not double-count (batch-
    scoped overwrite)."""
    from pyspark.sql import functions as F

    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {
        r.constraint: (r.n_checked, r.n_violations)
        for r in ingest.order_audit_batch(spark, sf_dir).collect()
    }
    assert set(batch) == {"custkey_fk", "totalprice_positive", "orderkey_not_null"}

    out = str(tmp_path / "audit_log")
    for i in range(2):  # second drain = reprocess, must be a no-double
        q = ingest.stream_order_audit(spark, sf_dir, out, str(tmp_path / f"ckpt{i}"))
        q.awaitTermination(120)
    log = spark.read.parquet(out)
    summed = {
        r.constraint: (r.n_checked, r.n_violations)
        for r in log.groupBy("constraint")
        .agg(
            F.sum("n_checked").alias("n_checked"),
            F.sum("n_violations").alias("n_violations"),
        )
        .collect()
    }
    assert summed == batch
    # every microbatch reported the full constraint set
    per_batch = log.groupBy("batch_id").count().collect()
    assert all(r["count"] == 3 for r in per_batch)


def test_stateful_activity_entropy_matches_batch(spark, sf_dir):
    """The stateful entropy twin's final update per user equals the
    batch operator row-for-row (same micro-quantized fold in both)."""
    from roblox_vector_search_datagen_spark.operators import timeseries

    batch = {
        r.user_id: r for r in timeseries.user_activity_entropy(spark, sf_dir).collect()
    }
    q = S.run_stream_to_memory(
        S.stream_user_activity_entropy(spark, sf_dir),
        "activity_entropy",
        output_mode="update",
    )
    q.awaitTermination(120)
    latest = {}
    for r in spark.sql("SELECT * FROM activity_entropy").collect():
        if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
            latest[r.user_id] = r
    assert set(latest) == set(batch) and len(batch) > 0
    for uid, b in batch.items():
        s = latest[uid]
        assert (s.n_events, s.n_types) == (b.n_events, b.n_types), uid
        assert abs(s.entropy - b.entropy) < 2e-6, uid
        assert abs(s.top_share - b.top_share) < 2e-6, uid


def test_stateful_funnel_within_matches_batch(spark, sf_dir):
    """The stateful funnel twin's final per-user states fold to exactly
    the batch funnel_within report (stage users and 6-dp conversions)."""
    from roblox_vector_search_datagen_spark.operators import timeseries

    batch = {r.stage: r for r in timeseries.funnel_within(spark, sf_dir).collect()}
    q = S.run_stream_to_memory(
        S.stream_funnel_within(spark, sf_dir), "funnel_state", output_mode="update"
    )
    q.awaitTermination(120)
    latest = {}
    for r in spark.sql("SELECT * FROM funnel_state").collect():
        if r.user_id not in latest or r.n_seen > latest[r.user_id].n_seen:
            latest[r.user_id] = r
    users = [
        sum(1 for r in latest.values() if getattr(r, f"s{i}_us") is not None)
        for i in (1, 2, 3)
    ]
    assert users[0] > 0
    for i in (1, 2, 3):
        assert users[i - 1] == batch[i].users, (i, users, batch)
        conv = 1.0 if i == 1 else (
            None if users[i - 2] == 0 else round(users[i - 1] / users[i - 2], 6)
        )
        assert conv == batch[i].conversion, i


@pytest.mark.slow
def test_stateful_funnel_repairs_out_of_order_arrivals(spark, tmp_path):
    """A click arrives in a microbatch BEFORE its user's earlier signup
    (cross-batch out-of-order): the tracker must retroactively re-derive
    the chain once the signup lands, converging on the batch rule —
    and a click outside the gap must stay unconverted."""
    from datetime import datetime as dt

    def e(i, day, h, uid, et):
        return (i, dt(2024, 3, day, h, 0), uid, et, 1.0)

    # user 1: click (day 2) arrives in batch 0; signup (day 1) lands in
    # batch 1 -> s2 becomes valid only retroactively (24h < 72h gap).
    # user 2: signup day 1, click day 5 (96h > 72h gap) -> never converts.
    b0 = [e(1, 2, 10, 1, "click"), e(2, 1, 9, 2, "signup")]
    b1 = [e(3, 1, 10, 1, "signup"), e(4, 5, 10, 2, "click")]
    feed = _feed_dir(spark, tmp_path, [b0, b1])
    raw = _raw_stream(spark, feed)
    q = S.run_stream_to_memory(
        S.stream_funnel_within(spark, tmp_path.name + "_unused", raw=raw),
        "funnel_ooo",
        output_mode="update",
    )
    q.awaitTermination(120)
    latest = {}
    for r in spark.sql("SELECT * FROM funnel_ooo").collect():
        if r.user_id not in latest or r.n_seen > latest[r.user_id].n_seen:
            latest[r.user_id] = r
    u1, u2 = latest[1], latest[2]
    assert u1.s1_us is not None and u1.s2_us is not None  # repaired chain
    assert u2.s1_us is not None and u2.s2_us is None  # outside the gap


def test_stream_media_ingest_dedup_matches_batch(spark, sf_dir):
    """The perceptual image front door (r11): the streaming
    synthesize→decode→average-hash→anti-join chain admits exactly the
    batch twin's survivors; rejected arrivals are precisely the ones
    whose PICTURE (not bytes) is already known — verified by checking
    the role arithmetic: admitted == arriving docs in odd-jdx groups."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm
    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {
        (r.doc_id, r.codec, r.phash)
        for r in mm.media_ingest_dedup(spark, sf_dir).collect()
    }
    assert batch
    q = S.run_stream_to_memory(
        ingest.stream_media_ingest_dedup(spark, sf_dir),
        "media_ingest",
        output_mode="append",
    )
    q.awaitTermination(180)
    streamed = {
        (r.doc_id, r.codec, r.phash)
        for r in spark.sql("SELECT * FROM media_ingest").collect()
    }
    assert streamed == batch
    # role arithmetic: survivors are exactly the odd-k arrivals whose
    # jdx group is odd (never-seen pictures); even-jdx arrivals were
    # rejected as perceptual dups of known blobs with DIFFERENT bytes
    mod, grp = mm.CONTRACT_MODULO, mm.PHASH_DUP_GROUP
    all_ids = {
        r.doc_id
        for r in mm.synthetic_dup_media(spark, sf_dir).select("doc_id").collect()
    }
    arriving = {d for d in all_ids if (d // mod) % 2 == 1}
    expected = {d for d in arriving if (d // mod // grp) % 2 == 1}
    assert {d for d, _, _ in batch} == expected
    assert expected != arriving  # the reject branch really fired


def test_stream_media_ingest_decision_report_matches_batch(spark, sf_dir):
    """The image admission ledger's streaming twin (r12): per-
    microbatch digest+fingerprint features probed against the static
    broadcast known sets yield exactly the batch ledger's verdict
    rows, with both verdict branches present in the streamed output."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm
    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {
        tuple(r) for r in mm.media_ingest_decision_report(spark, sf_dir).collect()
    }
    assert batch
    q = S.run_stream_to_memory(
        ingest.stream_media_ingest_decision_report(spark, sf_dir),
        "media_ledger",
        output_mode="append",
    )
    q.awaitTermination(180)
    streamed = {
        tuple(r) for r in spark.sql("SELECT * FROM media_ledger").collect()
    }
    assert streamed == batch
    assert {t[-1] for t in streamed} == {"perceptual_dup", "accepted"}


def test_stream_media_ingest_near_dedup_matches_batch(spark, sf_dir):
    """The near-dup image front door's streaming twin (r12): per-band
    broadcast probes admit exactly the batch twin's survivors."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm
    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {
        (r.doc_id, r.phash)
        for r in mm.media_ingest_near_dedup(spark, sf_dir).collect()
    }
    assert batch
    q = S.run_stream_to_memory(
        ingest.stream_media_ingest_near_dedup(spark, sf_dir),
        "media_near_ingest",
        output_mode="append",
    )
    q.awaitTermination(180)
    streamed = {
        (r.doc_id, r.phash)
        for r in spark.sql("SELECT * FROM media_near_ingest").collect()
    }
    assert streamed == batch


def test_stream_audio_features_matches_batch(spark, sf_dir):
    """The audio profile's streaming twin (r12): per-microbatch
    synthesize+decode+HOF features equal the batch rows exactly."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm
    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {tuple(r) for r in mm.audio_features(spark, sf_dir).collect()}
    assert batch
    q = S.run_stream_to_memory(
        ingest.stream_audio_features(spark, sf_dir),
        "audio_feats",
        output_mode="append",
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM audio_feats").collect()}
    assert streamed == batch


def test_stream_audio_ingest_dedup_matches_batch(spark, sf_dir):
    """The audio front door's streaming twin: per-microbatch stateless
    sign-fingerprinting + broadcast anti-join equals the batch
    survivors exactly."""
    from roblox_vector_search_datagen_spark.operators import multimodal as mm
    from roblox_vector_search_datagen_spark.streaming import ingest

    batch = {tuple(r) for r in mm.audio_ingest_dedup(spark, sf_dir).collect()}
    assert batch
    q = S.run_stream_to_memory(
        ingest.stream_audio_ingest_dedup(spark, sf_dir),
        "audio_ingest",
        output_mode="append",
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM audio_ingest").collect()}
    assert streamed == batch
