"""Stateful streaming session lifecycle: a terminal event freezes the session
at its EVENT TIME (earliest terminal ts; only calls with ts <= term_ts accrue)
and the record emits once the watermark passes term_ts; the watermark passing
last_activity+gap emits 'abandoned' exactly once (the batch engine's read-time
rule as an event-time timeout)."""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cognee_spark.operators.lifecycle import priced_calls
from cognee_spark.streaming.sessions import (
    _DTYPES,
    _SESSION_FIELDS,
    N_BUCKETS,
    _accrue,
    _fold,
    stream_session_records,
)

pytestmark = pytest.mark.streaming

T0 = dt.datetime(2026, 1, 1, 12, 0, 0)

INPUT_SCHEMA = StructType(
    [
        StructField("session_id", StringType()),
        StructField("user_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("model", StringType()),
        StructField("input_text", StringType()),
        StructField("output_text", StringType()),
        StructField("status", StringType()),
    ]
)


def _run(spark, input_dir, out_dir, ckpt, **source_options):
    stream = spark.readStream.schema(INPUT_SCHEMA).options(**source_options).parquet(input_dir)
    records = stream_session_records(
        priced_calls(stream), gap_seconds=120, watermark="10 seconds"
    )
    q = (
        records.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _emit(spark, input_dir, rows):
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)


def _sec(s):
    return T0 + dt.timedelta(seconds=s)


def _empty_bucket():
    return {f.name: np.array([], dtype=_DTYPES[type(f.dataType)]) for f in _SESSION_FIELDS}


def test_tracker_fold_matches_reference():
    """The batch fold's per-session call counters equal a plain pandas
    groupby rollup — including null handling and dtype fallbacks — across the
    column dtypes the serializer can deliver (int64, float64-with-NaN,
    object, bool, object-bool-with-None)."""
    frames = [
        pd.DataFrame(
            {
                "tokens_in": pd.array([5, 6, 7, 8], dtype="int64"),
                "cost_usd": [0.1, 0.2, 0.30000000000000004, 0.7],
                "error": pd.array([True, False, True, True], dtype="bool"),
            }
        ),
        pd.DataFrame(
            {
                "tokens_in": [5.0, float("nan"), 7.0, 2.0],
                "cost_usd": [0.1, float("nan"), 1e-9 * 0.4, 3.0],
                "error": [True, None, False, True],
            }
        ),
        pd.DataFrame(
            {
                "tokens_in": pd.Series([5, None, "7", 9], dtype=object),
                "cost_usd": pd.Series([0.15, None, 2.5, "1.25"], dtype=object),
                "error": pd.Series([1, None, 0, "x"], dtype=object),
            }
        ),
    ]
    groups = np.array([0, 2, 0, 2])  # group 1 never has a row
    masks = [
        np.array([True, True, True, True]),
        np.array([True, False, True, False]),
        np.array([False, False, False, False]),
    ]

    def rollup(series, mask):
        summed = series.groupby(groups[mask]).sum().reindex(range(3), fill_value=0)
        return [int(v) for v in summed]

    for rows in frames:
        rows["tokens_out"] = rows["tokens_in"]
        for mask in masks:
            sel = rows[mask]
            got = _accrue(rows, mask, groups, 3)
            assert list(got["n_calls"]) == rollup(pd.Series(1, index=sel.index), mask)
            for col in ("tokens_in", "tokens_out"):
                assert list(got[col]) == rollup(pd.to_numeric(sel[col]).fillna(0), mask)
            nanos = (pd.to_numeric(sel["cost_usd"]).fillna(0.0) * 1e9).round()
            assert list(got["cost_nanos"]) == rollup(nanos, mask)
            errs = sel["error"].where(sel["error"].notna(), False).astype(bool)
            assert list(got["error_count"]) == rollup(errs, mask)


def test_fold_coerces_only_call_rows():
    """A terminal row's unused numeric columns may hold anything: only the
    rows that accrue are coerced, so a bad value there must still raise."""
    rows = pd.DataFrame(
        {
            "session_id": ["s1", "s1"],
            "user_id": ["alice", "alice"],
            "ts": pd.to_datetime([_sec(0), _sec(10)]),
            "tokens_in": pd.Series([5, "n/a"], dtype=object),
            "tokens_out": [1, 0],
            "cost_usd": [0.5, None],
            "status": [None, "completed"],
        }
    )
    bucket, touched = _fold(_empty_bucket(), rows)
    assert list(touched) == [True]
    assert list(bucket["n_calls"]) == [1] and list(bucket["tokens_in"]) == [5]
    assert list(bucket["term_status"]) == ["completed"]

    rows["status"] = [None, None]  # the bad value now sits on a call row
    with pytest.raises(ValueError):
        _fold(_empty_bucket(), rows)


def test_stream_session_records(spark, tmp_path):
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    # run 1: two live sessions
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(60), "gpt-4o", "x" * 40, "y" * 4, None),
            ("s2", "bob", _sec(0), "gpt-4o-mini", "x" * 80, "y" * 8, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)

    # run 2: s2 ends; a heartbeat session pushes the watermark far past
    # s1's last_activity + gap. availableNow runs a final no-data batch once
    # the watermark advances, so s1's timeout fires INSIDE this run.
    _emit(
        spark,
        input_dir,
        [
            ("s2", "bob", _sec(120), "gpt-4o-mini", None, None, "completed"),
            ("hb1", "carol", _sec(3600), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    got = {r.session_id: r for r in spark.read.parquet(out_dir).collect()}
    assert got["s2"].status == "completed"
    # the terminal event is not a call: one call, priced from chars/4
    assert got["s2"].n_calls == 1
    assert got["s2"].tokens_in == 20 and got["s2"].tokens_out == 2
    assert got["s2"].last_activity_at == _sec(120)
    assert got["s1"].status == "abandoned"  # watermark passed 60s + gap
    assert "hb1" not in got  # watermark (3590s) hasn't passed hb1's gap

    # run 3: hb2 pushes the watermark past hb1's gap; s2's tombstone GCs
    # silently, s1 and s2 must NOT re-emit (exactly-once)
    _emit(
        spark,
        input_dir,
        [("hb2", "carol", _sec(7200), "o3", "x" * 4, None, None)],
    )
    _run(spark, input_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == len({r.session_id for r in rows})  # no duplicates
    got = {r.session_id: r for r in rows}
    assert got["s1"].status == "abandoned"
    assert got["s1"].n_calls == 2
    assert got["s1"].tokens_in == 100 + 10 and got["s1"].tokens_out == 10 + 1
    assert got["s1"].started_at == _sec(0)
    assert got["s1"].last_activity_at == _sec(60)
    assert got["s1"].cost_usd > 0.0
    # exactly-once: one record each; hb1 timed out abandoned, hb2 still live
    assert sorted(got) == ["hb1", "s1", "s2"]
    assert got["hb1"].status == "abandoned"


def test_late_call_before_terminal_accrues(spark, tmp_path):
    """A call with ts <= term_ts arriving AFTER the terminal event (but inside
    the watermark) accrues — the freeze is event-time scoped, not
    processing-order scoped, matching the batch rollup's c.ts <= t.term_ts."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(100), "gpt-4o", None, None, "completed"),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)  # watermark lands at 90s < term_ts

    # in-scope late call (ts=95 <= term_ts=100, above the 90s watermark),
    # processed a full micro-batch after the terminal event; the heartbeat
    # advances the watermark past term_ts so the record emits this run
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(95), "gpt-4o", "x" * 40, "y" * 4, None),
            ("hb", "carol", _sec(3600), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1
    assert rows[0].status == "completed"
    assert rows[0].n_calls == 2  # the late-but-in-scope call counted
    assert rows[0].tokens_in == 100 + 10
    assert rows[0].last_activity_at == _sec(100)  # the terminal event's ts


def test_call_tied_with_terminal_counts_any_order(spark, tmp_path):
    """A call at exactly term_ts counts even when the terminal row precedes it
    in arrival order — the fold is order-independent within a batch (the
    oracle's inclusive c.ts <= t.term_ts bound)."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(50), "gpt-4o", None, None, "completed"),
            ("s1", "alice", _sec(50), "gpt-4o", "x" * 40, "y" * 4, None),
            ("s1", "alice", _sec(60), "gpt-4o", "x" * 4000, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    _emit(spark, input_dir, [("hb", "carol", _sec(3600), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1
    assert rows[0].status == "completed"
    assert rows[0].n_calls == 1  # the tied call counted; the ts=60 one frozen
    assert rows[0].tokens_in == 10
    assert rows[0].last_activity_at == _sec(50)


def test_post_emission_straggler_keeps_tombstone_deadline(spark, tmp_path):
    """A straggler processed AFTER the terminal record emitted must not shrink
    the tombstone's GC deadline to the next watermark tick: with the gap-based
    bound intact, a second straggler still finds the tombstone (not a fresh
    session) and the session never emits twice."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    # B1: one call + terminal at t=100 (gap=120s, watermark 10s)
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(100), "gpt-4o", None, None, "completed"),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    # B2: heartbeat nudges the watermark just past term_ts -> record emits,
    # tombstone deadline = last + gap = 220s
    _emit(spark, input_dir, [("hb1", "carol", _sec(210), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)
    # B3: post-emission straggler hits the DATA path on the tombstone (t=212
    # > watermark 200); the buggy reset would move the deadline to wm+1 and
    # the trailing no-data batch (wm=205) would GC the tombstone here
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(212), "gpt-4o", "x" * 4000, "y" * 400, None),
            ("hb2", "carol", _sec(215), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    # B4: second straggler inside the original gap window — must land on the
    # surviving tombstone, not open a fresh 's1'
    _emit(
        spark,
        input_dir,
        [("s1", "alice", _sec(216), "gpt-4o", "x" * 4000, "y" * 400, None)],
    )
    _run(spark, input_dir, out_dir, ckpt)
    # B5: far heartbeat drives every deadline past; a reopened 's1' would
    # time out here and emit a duplicate 'abandoned' record
    _emit(spark, input_dir, [("hb3", "carol", _sec(5000), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1  # exactly-once survived both stragglers
    assert rows[0].status == "completed"
    assert rows[0].n_calls == 1  # stragglers are post-term: never accrued
    assert rows[0].tokens_in == 100
    assert rows[0].last_activity_at == _sec(100)


def test_terminal_freezes_stragglers(spark, tmp_path):
    """A call landing after the terminal event (within the watermark) must
    not reopen or re-emit the session — the reference's freeze rule."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            ("s1", "alice", _sec(30), "gpt-4o", None, None, "failed"),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)

    # straggler inside the watermark window + heartbeat to advance/GC
    _emit(
        spark,
        input_dir,
        [
            ("s1", "alice", _sec(35), "gpt-4o", "x" * 4000, "y" * 400, None),
            ("hb", "carol", _sec(3600), "o3", "x" * 4, None, None),
        ],
    )
    _run(spark, input_dir, out_dir, ckpt)
    _emit(spark, input_dir, [("hb2", "carol", _sec(7200), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).where(F.col("session_id") == "s1").collect()
    assert len(rows) == 1  # frozen: no re-emission, straggler never accrued
    assert rows[0].status == "failed"
    assert rows[0].n_calls == 1
    assert rows[0].tokens_in == 100


def _bucket_mates(spark):
    """Two session ids that share a state bucket, and one that does not."""
    ids = spark.range(200).select(F.concat(F.lit("sess-"), F.col("id").cast("string")).alias("sid"))
    buckets = {
        r.sid: r.b
        for r in ids.select("sid", F.pmod(F.xxhash64("sid"), F.lit(N_BUCKETS)).alias("b")).collect()
    }
    first, *rest = buckets
    mate = next(s for s in rest if buckets[s] == buckets[first])
    other = next(s for s in rest if buckets[s] != buckets[first])
    return first, mate, other


def test_expired_session_fires_in_its_bucket_mates_data_batch(spark, tmp_path):
    """Sessions A and B share a bucket. In the micro-batch where the watermark
    is already past A's deadline, B receives data: A must emit in that batch,
    exactly once, through B's data call, and B's counts stay its own."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)
    a, b, hb = _bucket_mates(spark)

    # one file per micro-batch, in write order: batch 0 opens A and B; batch
    # 1 moves the watermark to 990s; batch 2 brings B data while A (deadline
    # 120s) has expired — no no-data batch runs between them
    for rows in (
        [
            (a, "alice", _sec(0), "gpt-4o", "x" * 400, "y" * 40, None),
            (b, "bob", _sec(0), "gpt-4o", "x" * 40, "y" * 4, None),
        ],
        [(hb, "carol", _sec(1000), "o3", "x" * 4, None, None)],
        [(b, "bob", _sec(995), "gpt-4o", "x" * 40, "y" * 4, None)],
    ):
        _emit(spark, input_dir, rows)
        time.sleep(1.1)  # distinct file modification times fix the order
    q = _run(spark, input_dir, out_dir, ckpt, maxFilesPerTrigger=1)
    assert [p.numInputRows for p in q.recentProgress] == [2, 1, 1]
    got = spark.read.parquet(out_dir).collect()
    assert [(r.session_id, r.status, r.n_calls, r.tokens_in) for r in got] == [
        (a, "abandoned", 1, 100)
    ]

    # a far heartbeat times B out; A must not emit again
    _emit(spark, input_dir, [(hb + "-2", "carol", _sec(5000), "o3", "x" * 4, None, None)])
    _run(spark, input_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).where(F.col("session_id").isin(a, b)).collect()
    assert sorted(r.session_id for r in rows) == sorted([a, b])
    got = {r.session_id: r for r in rows}
    assert got[b].status == "abandoned"
    assert got[b].n_calls == 2 and got[b].tokens_in == 20 and got[b].tokens_out == 2
    assert got[b].started_at == _sec(0) and got[b].last_activity_at == _sec(995)
    assert got[a].last_activity_at == _sec(0)


def test_state_rows_updated_bounded_by_buckets(spark, tmp_path):
    """Each micro-batch rewrites at most one state row per bucket, however
    many sessions it touches (a per-session key would rewrite 201 here)."""
    input_dir = str(tmp_path / "calls")
    out_dir = str(tmp_path / "records")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)
    rows = [(f"s{i}", "alice", _sec(i), "gpt-4o", "x" * 40, None, None) for i in range(200)]
    _emit(spark, input_dir, rows + [("hb", "carol", _sec(3600), "o3", "x" * 4, None, None)])
    q = _run(spark, input_dir, out_dir, ckpt)

    updated = [p.stateOperators[0].numRowsUpdated for p in q.recentProgress]
    assert len(updated) == 2  # the data batch, then the timeout batch
    assert all(0 < n <= N_BUCKETS for n in updated)
    out = spark.read.parquet(out_dir).collect()
    assert len(out) == 200 == len({r.session_id for r in out})
    assert {r.status for r in out} == {"abandoned"}
