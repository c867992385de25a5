"""Streaming session lifecycle — the stateful-operator twin of
``operators/lifecycle`` (reference: cognee/modules/session_lifecycle/
usage_tracking.py:33-169 + metrics.py get_effective_status_sql).

The batch engine computes ``abandoned`` AT READ TIME (last_activity_at vs a
threshold) because a batch log is complete when scanned. A stream never
completes, so the same rule becomes an event-time timeout: when the
watermark passes ``last_activity + gap`` the session is abandoned and its
record is emitted. Terminal events ('completed'/'failed' rows in the same
call stream) freeze the session at their EVENT TIME: the earliest terminal
ts wins, only calls with ``ts <= term_ts`` accrue (ties included), and the
terminal record is emitted once the watermark passes ``term_ts`` — at which
point the watermark guarantees no in-scope call can still arrive, so the
emitted counts are final. This makes the fold order-independent within a
micro-batch and lets a late call (``ts <= term_ts``, inside allowed
lateness) accrue even when it is processed after the terminal event — the
same scoping rule the batch engine and the DuckDB oracle apply
(``c.ts <= t.term_ts``).

Contract boundaries (documented, not silent): (a) exactly-once emission
holds for events inside allowed lateness — an event later than the
watermark that arrives after the session's state was GC'd is
indistinguishable from a new session with a reused id and will open one;
(b) a terminal event processed in a LATER micro-batch than calls bearing
larger timestamps cannot retro-subtract those calls (that would need
per-call history, i.e. O(calls) state); their timestamps are clamped to
``term_ts`` at emission and the counts carry the approximation.

Shape notes for scale: state is keyed by a fixed bucket,
``pmod(xxhash64(session_id), N_BUCKETS)``, so Spark makes one Python call per
touched bucket per micro-batch, not one per session. A bucket's state row
holds parallel per-session arrays (fixed-width fields plus each session's own
event-time deadline; no per-call history), so state stays O(concurrent
sessions) and a touched bucket rewrites O(live sessions / N_BUCKETS) slots;
the group timeout is the earliest deadline. A session fires in whichever
call visits its bucket once the watermark is strictly past its deadline —
Spark's per-key timeout rule — so records emit in the same micro-batch as
under a per-session key. Checkpoints of the older ``session_id``-keyed
operator cannot be resumed: Spark fails them loudly with a state key-schema
mismatch (STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE). Pricing/token estimation
happens UPSTREAM in ``lifecycle.priced_calls``, a pure codegen projection
and therefore stream-safe; the stateful operator only folds already-priced
numbers.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TERMINAL_STATUSES = ("completed", "failed")  # models.py SessionRecord vocab

N_BUCKETS = 32  # Python calls per micro-batch: at most this, not one per session

OUTPUT_SCHEMA = StructType(
    [
        StructField("session_id", StringType()),
        StructField("user_id", StringType()),
        StructField("started_at", TimestampType()),
        StructField("last_activity_at", TimestampType()),
        StructField("n_calls", LongType()),
        StructField("tokens_in", LongType()),
        StructField("tokens_out", LongType()),
        StructField("cost_usd", DoubleType()),
        StructField("error_count", LongType()),
        StructField("status", StringType()),
    ]
)

# one session's slot; a bucket's state holds one array per field
_SESSION_FIELDS = [
    StructField("session_id", StringType()),
    StructField("user_id", StringType()),
    StructField("started_ms", LongType()),
    StructField("last_ms", LongType()),
    StructField("n_calls", LongType()),
    StructField("tokens_in", LongType()),
    StructField("tokens_out", LongType()),
    # integer nanodollars: float addition is not associative, so summing
    # per-call doubles would make the fold's result depend on event order;
    # ints make it exact and replayable by any batch engine
    StructField("cost_nanos", LongType()),
    StructField("error_count", LongType()),
    # event-time freeze point: earliest terminal ts (int64 max until one
    # arrives, so ``ts <= term_ms`` scopes an open session's every row) + its
    # status (min(status) on same-ts ties, matching the batch rollup)
    StructField("term_ms", LongType()),
    StructField("term_status", StringType()),
    # terminal record already emitted — tombstone awaiting GC
    StructField("emitted", BooleanType()),
    # the session's own event-time timeout; the bucket's is the minimum
    StructField("deadline_ms", LongType()),
]
_STATE_SCHEMA = StructType([StructField(f.name, ArrayType(f.dataType)) for f in _SESSION_FIELDS])
_DTYPES = {StringType: object, BooleanType: bool, LongType: np.int64}
_OPEN = np.iinfo(np.int64).max
# a new session's slot before its rows fold in; unlisted fields start at 0
_FRESH = {"user_id": None, "term_status": None,
          "started_ms": _OPEN, "last_ms": -_OPEN, "term_ms": _OPEN}


def _numeric(series: pd.Series, mask: np.ndarray) -> np.ndarray:
    """``pd.to_numeric(series[mask]).fillna(0)``: a terminal row's unused
    columns may hold anything, so only the rows that accrue are coerced."""
    vals = pd.to_numeric(series[mask]).to_numpy()
    return np.where(np.isnan(vals), 0, vals) if vals.dtype.kind == "f" else vals


def _group_sum(vals: np.ndarray, groups: np.ndarray, n: int) -> np.ndarray:
    # int64 adds for integer columns; a float column sums as float and
    # truncates like int() of its sum
    sums = np.zeros(n, dtype=np.result_type(vals.dtype, np.int64))
    np.add.at(sums, groups, vals)
    return sums.astype(np.int64)


def _accrue(rows: pd.DataFrame, calls: np.ndarray, groups: np.ndarray, n: int) -> dict:
    """The counters each of ``n`` groups gains from the ``calls`` rows, where
    ``groups`` maps every row to its group."""
    g = groups[calls]
    nanos = np.round(_numeric(rows["cost_usd"], calls).astype(np.float64) * 1e9)
    # error: series[mask].fillna(False).astype(bool), never calling bool(NA)
    errs = rows.get("error", pd.Series(False, index=rows.index)).to_numpy()[calls]
    known = pd.notna(errs)
    return {
        "n_calls": np.bincount(g, minlength=n),
        "tokens_in": _group_sum(_numeric(rows["tokens_in"], calls), g, n),
        "tokens_out": _group_sum(_numeric(rows["tokens_out"], calls), g, n),
        "cost_nanos": _group_sum(nanos.astype(np.int64), g, n),
        "error_count": np.bincount(g[known][errs[known].astype(bool)], minlength=n),
    }


def _group_min(base: np.ndarray, labels: np.ndarray, groups: np.ndarray) -> np.ndarray:
    """Per group i: the least non-null of ``base[i]`` and the ``labels`` whose
    group is i, else None."""
    codes, uniques = pd.factorize(np.concatenate([base, labels]), sort=True)
    owner = np.concatenate([np.arange(len(base)), groups])
    best = np.full(len(base), len(uniques))
    np.minimum.at(best, owner[codes >= 0], codes[codes >= 0])
    return np.append(uniques.astype(object), None)[best]


def _fold(bucket: dict, rows: pd.DataFrame) -> Tuple[dict, np.ndarray]:
    """Fold a micro-batch of the bucket's rows into its sessions, opening a
    slot per new session id; returns the bucket and its touched mask."""
    sids = rows["session_id"].to_numpy(dtype=object)
    pos = pd.Index(bucket["session_id"]).get_indexer(sids)
    if (pos < 0).any():
        fresh = pd.unique(sids[pos < 0])  # keeps a null id as a session
        pos[pos < 0] = len(bucket["session_id"]) + pd.Index(fresh).get_indexer(sids[pos < 0])
        slots = {k: np.full(len(fresh), _FRESH.get(k, 0), v.dtype) for k, v in bucket.items()}
        slots["session_id"] = fresh
        bucket = {k: np.concatenate([v, slots[k]]) for k, v in bucket.items()}
    n = len(bucket["session_id"])
    ts = rows["ts"].to_numpy("datetime64[ns]").view("int64") // 1_000_000
    status = rows.get("status", pd.Series(None, index=rows.index, dtype=object))
    terminal = status.isin(TERMINAL_STATUSES).to_numpy()
    status = status.to_numpy(dtype=object)

    term = bucket["term_ms"].copy()
    np.minimum.at(term, pos[terminal], ts[terminal])
    tied = terminal & (ts == term[pos])
    kept = np.where(term == bucket["term_ms"], bucket["term_status"], None)
    bucket["term_status"] = _group_min(kept, status[tied], pos[tied])
    bucket["term_ms"] = term

    # event-time scope, not processing order: everything at or before the
    # freeze point accrues, everything after it is rejected — ties and
    # late-but-in-scope calls land exactly like the batch rollup
    scoped = ts <= term[pos]
    np.minimum.at(bucket["started_ms"], pos[scoped], ts[scoped])
    np.maximum.at(bucket["last_ms"], pos[scoped], ts[scoped])
    users = rows["user_id"].to_numpy(dtype=object)[scoped]
    bucket["user_id"] = _group_min(bucket["user_id"], users, pos[scoped])
    for name, gained in _accrue(rows, scoped & pd.isna(status), pos, n).items():
        bucket[name] += gained
    return bucket, np.bincount(pos, minlength=n) > 0


def _expire(bucket: dict, fire: np.ndarray) -> Tuple[pd.DataFrame, np.ndarray]:
    """Time out the ``fire`` sessions: returns their records and the mask of
    sessions that just emitted a terminal record and stay as tombstones."""
    term = bucket["term_ms"]
    # past term_ts no in-scope call can still arrive: the counts are final.
    # The tombstone keeps post-term stragglers inside the lateness window
    # from reopening the session as a fresh 'abandoned' one.
    final = fire & (term != _OPEN) & ~bucket["emitted"]
    emit = final | (fire & (term == _OPEN))
    bucket["emitted"] = bucket["emitted"] | final
    cols = {f.name: bucket.get(f.name) for f in OUTPUT_SCHEMA}
    cols["started_at"] = pd.to_datetime(np.minimum(bucket["started_ms"], term), unit="ms")
    cols["last_activity_at"] = pd.to_datetime(np.minimum(bucket["last_ms"], term), unit="ms")
    cols["cost_usd"] = bucket["cost_nanos"] / 1e9
    cols["status"] = np.where(final, bucket["term_status"], "abandoned")
    return pd.DataFrame({k: np.asarray(v)[emit] for k, v in cols.items()}), final


def _make_tracker(gap_ms: int):
    def track(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        stored = state.get if state.exists else ([],) * len(_SESSION_FIELDS)
        bucket = {
            f.name: np.array(v, dtype=_DTYPES[type(f.dataType)])
            for f, v in zip(_SESSION_FIELDS, stored)
        }
        touched = np.zeros(len(bucket["session_id"]), dtype=bool)
        chunks = list(pdfs)  # none when the bucket's own timeout fired
        if chunks:
            bucket, touched = _fold(bucket, pd.concat(chunks, ignore_index=True))
        wm = state.getCurrentWatermarkMs()
        # Spark fires a timeout once the watermark is strictly past it; a
        # session without rows this batch expires by the same rule, so a data
        # call emits it in the micro-batch a per-session key would have
        fire = ~touched & (bucket["deadline_ms"] < wm)
        records, final = _expire(bucket, fire)
        term, last = bucket["term_ms"], bucket["last_ms"]
        # a tombstone waits (last or term_ts) + gap, so a post-emission
        # straggler cannot shrink its lateness window and let a second one
        # reopen the session; an open session waits (last or 0) + gap; a
        # frozen one fires once the watermark passes its freeze point
        idle = np.where(last != 0, last, np.where(term != _OPEN, term, 0)) + gap_ms
        pending = (term != _OPEN) & ~bucket["emitted"]
        refresh = touched | final
        bucket["deadline_ms"][refresh] = np.maximum(
            np.where(pending, term + 1, idle), wm + 1
        )[refresh]
        live = ~fire | final  # abandoned sessions and expired tombstones leave
        if live.any():
            state.update(tuple(bucket[f.name][live].tolist() for f in _SESSION_FIELDS))
            state.setTimeoutTimestamp(int(bucket["deadline_ms"][live].min()))
        else:
            state.remove()
        if len(records):
            yield records

    return track


def stream_session_records(
    calls: DataFrame,
    gap_seconds: int = 1800,  # lifecycle.ABANDON_AFTER_SECONDS
    watermark: str = "10 minutes",
) -> DataFrame:
    """Fold a streaming priced-call log into final session records.

    ``calls`` is a STREAMING frame with (session_id, user_id, ts timestamp,
    tokens_in, tokens_out, cost_usd, error?, status?) — the output of
    ``lifecycle.priced_calls`` over the wire format. Emits one row per
    session: with its terminal status once the watermark passes the earliest
    terminal event's ts (counts scoped to ``ts <= term_ts``), or with status
    'abandoned' once the watermark passes ``last_activity + gap_seconds``.
    """
    return (
        calls.withWatermark("ts", watermark)
        .withColumn("_bucket", F.pmod(F.xxhash64("session_id"), F.lit(N_BUCKETS)))
        .groupBy("_bucket")
        .applyInPandasWithState(
            _make_tracker(gap_seconds * 1000),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


__all__ = ["stream_session_records", "OUTPUT_SCHEMA", "TERMINAL_STATUSES", "N_BUCKETS"]
