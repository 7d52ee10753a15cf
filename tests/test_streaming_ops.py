"""Streaming operator tests beyond the CDC pipeline: watermarked
windowed aggregation in append mode, and the applyInPandasWithState
sessionizer — both fed by a chunked file source (maxFilesPerTrigger=1)
so watermark advancement across micro-batches is exercised for real."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from pyspark.sql import functions as F

from trialstreamer_spark.streaming.pipeline import hourly_event_rollup
from trialstreamer_spark.streaming.stateful import sessionize_stream

T0 = dt.datetime(2025, 6, 1, 0, 0, 0)

EVENT_SCHEMA = "user_id long, event_type string, ts timestamp, value double"


def _write_batches(base: str, batches) -> None:
    """One JSONL file per micro-batch; mtimes strictly increasing so the
    file source picks them up in order."""
    os.makedirs(base)
    for i, rows in enumerate(batches):
        p = os.path.join(base, f"{i:03d}.json")
        with open(p, "w") as f:
            for user, minutes, etype, value in rows:
                ts = T0 + dt.timedelta(minutes=minutes)
                f.write(
                    json.dumps(
                        {
                            "user_id": user,
                            "event_type": etype,
                            "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"),
                            "value": value,
                        }
                    )
                    + "\n"
                )
        t = time.time() + i  # monotone mtimes
        os.utime(p, (t, t))


def _run_stream(spark, src_dir, ckpt, transform, out_table):
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(out_table)


def test_windowed_rollup_append_emits_closed_windows(spark, tmp_path):
    """Three time-ordered batches; append mode + 1h watermark emit
    exactly the windows whose end ≤ final watermark. availableNow commits
    a final watermark-advancing batch, so the final watermark is
    max event time over ALL batches − 1h; only the still-open trailing
    window is withheld."""
    batches = [
        # batch 0: hours 0-2
        [(1, 5, "view", 1.0), (1, 65, "view", 2.0), (2, 100, "click", 3.0)],
        # batch 1: hours 3-5
        [(1, 185, "view", 4.0), (2, 245, "click", 5.0), (1, 305, "view", 6.0)],
        # batch 2: hours 10-12 → final watermark 12h05 − 1h = 11h05
        [(2, 610, "view", 7.0), (1, 725, "click", 8.0)],
    ]
    src = str(tmp_path / "events_src")
    _write_batches(src, batches)
    got = _run_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        hourly_event_rollup,
        "rollup_out",
    ).collect()

    batch_df = spark.createDataFrame(
        [
            (u, e, T0 + dt.timedelta(minutes=m), v)
            for rows in batches
            for (u, m, e, v) in rows
        ],
        EVENT_SCHEMA,
    )
    final_wm = T0 + dt.timedelta(minutes=725 - 60)
    want = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in hourly_event_rollup(batch_df).collect()
        if r.window_start + dt.timedelta(hours=1) <= final_wm
    }
    got_map = {(r.window_start, r.event_type): (r.n, r.total_value) for r in got}
    assert got_map == want
    assert len(got_map) > 0
    # the last (open) window must NOT have been emitted
    assert all(ws + dt.timedelta(hours=1) <= final_wm for ws, _ in got_map)


def test_sessionize_stream_gap_and_timeout(spark, tmp_path):
    """User 1: two bursts 2h apart → first session closes in-batch when
    the second burst arrives; the second burst is later closed by
    timeout once batch 2's far-future event advances the watermark past
    its expiry. User 2: one burst, closed by event-time timeout. Only
    user 3's trailing session stays open — never emitted."""
    batches = [
        # batch 0: user1 burst A (0,10,20min), user2 burst (5,15min)
        [
            (1, 0, "view", 1.0),
            (1, 10, "view", 1.0),
            (1, 20, "view", 1.0),
            (2, 5, "click", 1.0),
            (2, 15, "click", 1.0),
        ],
        # batch 1: user1 at +2h (closes burst A in-batch);
        # watermark after: 140 - 60 = 80min > user2 expiry (15+30=45min)
        [(1, 140, "view", 1.0)],
        # batch 2: far-future event advances watermark → user2 timeout
        [(3, 1000, "view", 1.0)],
    ]
    src = str(tmp_path / "sess_src")
    _write_batches(src, batches)
    got = _run_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        lambda s: sessionize_stream(s, gap_minutes=30),
        "sessions_out",
    ).collect()

    sessions = {
        (r.user_id, r.session_start, r.session_end): r.n_events for r in got
    }
    m = lambda mins: T0 + dt.timedelta(minutes=mins)  # noqa: E731
    assert sessions[(1, m(0), m(20))] == 3  # burst A, closed by gap
    assert sessions[(2, m(5), m(15))] == 2  # closed by timeout
    assert sessions[(1, m(140), m(140))] == 1  # closed by final watermark
    # user3's open session (no watermark past 1000+30min) never emitted
    assert len(sessions) == 3


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """The same event_id re-delivered in a later micro-batch (within the
    watermark horizon) is emitted once; distinct ids all pass."""
    from trialstreamer_spark.streaming.stateful import dedup_stream

    batches = [
        [(1, 0, "view", 1.0), (2, 5, "view", 1.0)],
        [(1, 0, "view", 1.0), (3, 10, "view", 1.0)],   # id1 re-delivered
        [(2, 5, "view", 1.0), (4, 1000, "view", 1.0)], # id2 re-delivered
    ]
    src = str(tmp_path / "dedup_src")
    _write_batches(src, batches)
    got = _run_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        lambda s: dedup_stream(
            s.withColumnRenamed("user_id", "event_id"), ["event_id"]
        ),
        "dedup_out",
    ).collect()
    ids = sorted(r.event_id for r in got)
    assert ids == [1, 2, 3, 4]


def test_running_totals_stream_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState running totals (``running_totals_stream``):
    each micro-batch emits one row per active user; totals accumulate
    exactly (integer cents) across batches and keys never interfere."""
    from trialstreamer_spark.streaming.stateful import running_totals_stream

    batches = [
        [(1, 0, "view", 1.11), (1, 1, "view", 2.22), (2, 2, "click", 5.0)],
        [(1, 10, "view", 3.33), (2, 11, "click", 0.004)],
        [(2, 20, "view", 10.0)],
    ]
    src = str(tmp_path / "events_src")
    _write_batches(src, batches)
    got = _run_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        running_totals_stream,
        "running_totals_out",
    ).collect()

    # per (user, emission-order) trajectory of (batch_events, totals)
    by_user = {}
    for r in sorted(got, key=lambda r: (r.user_id, r.total_events)):
        by_user.setdefault(r.user_id, []).append(
            (r.batch_events, r.total_events, r.total_cents)
        )
    assert by_user[1] == [(2, 2, 333), (1, 3, 666)]
    # 0.004 rounds to 0 cents per-row
    assert by_user[2] == [(1, 1, 500), (1, 2, 500), (1, 3, 1500)]


def test_stream_batch_parity_queries_match_oracle(spark, sf_dir):
    """The driver-facing parity queries (streaming operators run to
    completion over a single-batch replay) must hash-match their DuckDB
    batch oracles — the §2.9 batch-equivalence gate, locally."""
    from tests.oracle_util import assert_registered_matches

    for name in ("sessionize_stream_parity", "running_totals_stream_parity"):
        assert_registered_matches(spark, name, sf_dir)


def test_parity_replays_run_the_production_operators(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The staged parity replays check the operators production runs:
    built into an empty sidecar catalog, each calls
    ``pipeline.hourly_event_rollup`` or ``stateful.dedup_stream`` (not
    a private copy) and still matches its DuckDB oracle."""
    from tests.oracle_util import assert_matches
    from trialstreamer_spark.plans.registry import ORACLES, QUERIES
    from trialstreamer_spark.streaming import parity

    calls = []

    def recorder(name, fn):
        def wrapped(*args, **kwargs):
            calls.append((name, kwargs.get("keys")))
            return fn(*args, **kwargs)

        return wrapped

    monkeypatch.setattr(
        parity, "hourly_event_rollup",
        recorder("hourly_event_rollup", parity.hourly_event_rollup),
    )
    monkeypatch.setattr(
        parity, "dedup_stream", recorder("dedup_stream", parity.dedup_stream)
    )
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path / "sidecars"))
    for name, want in (
        ("watermark_finalize_stream_parity", ("hourly_event_rollup", None)),
        ("update_mode_rollup_stream_parity", ("hourly_event_rollup", None)),
        ("dedup_expiry_stream_parity", ("dedup_stream", ["user_id", "event_type"])),
    ):
        calls.clear()
        got = QUERIES[name](spark, sf_dir)
        assert calls == [want], name
        assert_matches(got, ORACLES[name], sf_dir)


def test_topk_stream_state_survives_restart(spark, tmp_path):
    """Bounded-state top-k: state (the K best pairs) restores from the
    checkpoint across a stop/start, so an event from batch 1 that still
    ranks top-K appears in batch 2's refreshed leaderboard — and the
    per-key emission never exceeds K rows."""
    import json as _json
    from trialstreamer_spark.streaming.stateful import TOPK_K, topk_stream

    schema = "user_id long, event_id long, ts timestamp, value double"
    src = str(tmp_path / "topk_src")
    os.makedirs(src)

    def write_file(i, rows):
        p = os.path.join(src, f"{i:03d}.json")
        with open(p, "w") as f:
            for user, eid, minutes, value in rows:
                ts = T0 + dt.timedelta(minutes=minutes)
                f.write(_json.dumps({
                    "user_id": user, "event_id": eid,
                    "ts": ts.strftime("%Y-%m-%dT%H:%M:%S"), "value": value,
                }) + "\n")
        t = time.time() + i
        os.utime(p, (t, t))

    ckpt = str(tmp_path / "ckpt")

    def run():
        # memory sink refuses checkpoint recovery; foreachBatch is the
        # recoverable harness (same sink family as the production upsert)
        rows = []
        stream = spark.readStream.schema(schema).json(src)
        q = (
            topk_stream(stream)
            .writeStream.foreachBatch(
                lambda batch, _bid: rows.extend(batch.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    # batch 1: user 1 has four events; 90.0 is the champion
    write_file(0, [(1, 10, 0, 90.0), (1, 11, 1, 5.0),
                   (1, 12, 2, 7.0), (1, 13, 3, 6.0)])
    first = run()
    assert [r.event_id for r in sorted(first, key=lambda r: r.rank)] == [10, 12, 13]

    # batch 2 (after restart): two better-than-middling events arrive;
    # the champion from batch 1 must survive via restored state
    write_file(1, [(1, 20, 10, 50.0), (1, 21, 11, 8.0)])
    second = run()
    got = [(r.rank, r.event_id, r.value_cents)
           for r in sorted(second, key=lambda r: r.rank)]
    assert got == [(1, 10, 9000), (2, 20, 5000), (3, 21, 800)]
    assert len(second) <= TOPK_K
