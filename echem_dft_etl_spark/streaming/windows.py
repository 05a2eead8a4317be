"""Structured Streaming forms of the event-window operators (SURVEY X10).

The reference pipeline is batch-triggered (``schedule=None``,
``my_dag.py:249``); its continuous-operation generalization is
Structured Streaming: ``readStream`` → the *same* window expressions the
batch operators use → ``writeStream``. Late data is governed by
watermarks; results are replay-checked against the batch forms in
``operators/sessions.py`` (the DuckDB-checkable correctness proxies,
SURVEY §7 streaming-state risk note).

Every bounded stream here runs through one driver, :func:`_run_bounded`,
in one of two completion modes:

- ``until=None``: ``trigger(availableNow=True)``; Spark itself ends the
  query once everything the source listed at start is processed. The
  parquet replays use this — the same code takes a Kafka/file stream at
  scale; only the reader line changes.
- ``until=<offset>``: a 100 ms ``processingTime`` trigger (the
  continuous mode, SURVEY §1.2); the query is stopped once the source
  reports ``endOffset == until`` with no trigger in flight. Completion
  is proven from the source's offsets, never from a quiet-time window,
  so files that arrive late are still read.
"""

from __future__ import annotations

import ast
import logging
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import prepare_session, read_parquet

#: Shuffle width (= state-store instances per stateful operator) for the
#: bounded fixture replays. Stateful streams instantiate one state store
#: per shuffle partition and pay a per-instance commit every micro-batch
#: — a fixed machinery cost independent of data volume — so the width
#: should track STATE KEY CARDINALITY, not the batch session's scan
#: width. The fixture corpora carry O(10³) state keys (users, windows),
#: where 4 partitions keep every core busy with real work while halving
#: the r12 width's per-batch commit count (measured interleaved A/B at
#: sf0.1, min-of-3: stream_stream_join 2.89→2.31 s, dedup_keys
#: 1.15→1.05 s, sessions 1.68→1.60 s, tumbling/foreach_merge flat —
#: plans/r13/stream_phase_before.json phase splits attribute the gap to
#: state-store commits). A production deployment sizes this ONCE at
#: first start from its key cardinality (the checkpoint then pins it for
#: the query's lifetime); callers whose per-batch cost is not state
#: commits pass ``state_width``.
STREAM_STATE_WIDTH = 4

#: Hang guard for ``until`` streams: a source that has not reached its
#: target offset after this long is a fault and raises ``TimeoutError``.
#: It is a safety check, never a completion test.
_HANG_GUARD_S = 120.0

_log = logging.getLogger(__name__)


def _as_stream_dir(sf_dir: str, table: str = "events") -> str:
    """The file stream source requires a *directory*; the corpus ships
    one parquet file per table. Stage a per-sf symlink directory under
    /tmp (data is never copied or modified)."""
    import hashlib
    import os

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = f"/tmp/echem_stream_src_{key}/{table}"
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{table}.parquet"
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/{table}.parquet"), link)
    return d


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """Open ANY corpus table as a bounded stream (availableNow replay)
    — schema from a batch peek (streaming readers need it up front;
    the peek shares the loaders' per-file-version schema memo), no
    column normalization. Use :func:`read_events_stream` for events
    (it additionally normalizes the ts vintage)."""
    prepare_session(spark)
    raw_schema = read_parquet(spark, f"{sf_dir}/{table}.parquet").schema
    return spark.readStream.schema(raw_schema).parquet(
        _as_stream_dir(sf_dir, table)
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a bounded stream (availableNow replay).

    Schema comes from a batch peek (streaming readers need it up
    front); the nanos→µs truncation matches the batch loader.
    """
    stream = read_table_stream(spark, sf_dir, "events")
    ts_dtype = dict(stream.dtypes)["ts"]
    if ts_dtype == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_dtype == "timestamp_ntz":
        # watermarks accept only TIMESTAMP; UTC session tz keeps the
        # wall clock identical (same normalization as sources.load_table)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts with a watermark (X10).

    Identical grouping to operators/sessions.tumbling_window_agg — the
    batch query is the oracle for this stream on replay.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time windows (X10): each event lands in
    width/slide overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming session windows (X10): Spark's native session_window
    merges events within ``gap`` into growing state per user. The batch
    sessionize operator (same gap) is the replay oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming stateful dedup (X10): drop duplicate event_ids whose
    duplicates arrive within the watermark horizon — the streaming
    analogue of the first-wins upsert (Q16)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _offset(raw):
    """A source's progress ``endOffset`` as a dict. The built-in file
    source reports the parsed JSON (``{'logOffset': 0}``); a Python data
    source reports the str() of its dict (``"{'files_done': 7}"``), so a
    raw ``==`` against the target would never match."""
    return ast.literal_eval(raw) if isinstance(raw, str) else raw


def _await_offset(q, until: dict) -> None:
    """Block until every source of ``q`` reports ``endOffset == until``
    and no trigger is active; a failed query raises here."""
    deadline = time.monotonic() + _HANG_GUARD_S
    while not q.awaitTermination(0.1):  # raises if the query failed
        if (
            (p := q.lastProgress) is not None
            and all(_offset(s["endOffset"]) == until for s in p["sources"])
            and not q.status["isTriggerActive"]
        ):
            return
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"stream did not reach offset {until} in {_HANG_GUARD_S}s"
            )
    raise RuntimeError(f"stream stopped before reaching offset {until}")


def _run_bounded(
    spark: SparkSession,
    writer,
    *,
    state_width: int | None = None,
    until: dict | None = None,
) -> None:
    """Run a bounded stream to completion: the one owner of the
    state-store width, the trigger, completion, the stop and the retry.

    ``writer()`` returns a fresh, unstarted ``DataStreamWriter`` (sink,
    mode and options set, no trigger) for each attempt. The shuffle
    width is narrowed to ``min(session, state_width or
    STREAM_STATE_WIDTH)`` for the query's lifetime — the width is baked
    in at stream START — and restored after. ``until=None`` runs
    availableNow and awaits termination; ``until=<offset>`` runs a
    100 ms processingTime trigger and stops the query once the source's
    offset proves it has read everything (see the module docstring).

    One retry: local masters run with task.maxFailures=1, so a single
    transient executor/worker hiccup aborts the whole query — a failure
    class a real cluster absorbs with task retries. The first failure is
    logged as a warning; a second one raises, chained to the first.
    """
    conf_key = "spark.sql.shuffle.partitions"
    saved_width = spark.conf.get(conf_key)
    width = STREAM_STATE_WIDTH if state_width is None else state_width
    trigger = (
        {"availableNow": True}
        if until is None
        else {"processingTime": "100 milliseconds"}
    )
    first: Exception | None = None
    try:
        spark.conf.set(conf_key, str(min(int(saved_width), width)))
        for _attempt in range(2):
            q = writer().trigger(**trigger).start()
            try:
                if until is None:
                    q.awaitTermination()
                else:
                    _await_offset(q, until)
                return
            except Exception as exc:  # StreamingQueryException and kin
                if first is not None:
                    raise exc from first
                _log.warning(
                    "bounded stream failed, retrying once: %s: %s",
                    type(exc).__name__,
                    exc,
                )
                first = exc
            finally:
                q.stop()
    finally:
        spark.conf.set(conf_key, saved_width)


def run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    state_width: int | None = None,
    until: dict | None = None,
) -> DataFrame:
    """Execute a bounded stream into a memory sink and return the
    materialized result as a batch DataFrame.

    ``until=None`` replays with availableNow. Sources that availableNow
    cannot drain (the simple Python stream reader prefetches one batch
    per trigger, so availableNow stops after the first) pass the offset
    that marks their end, e.g. ``{"files_done": 25}``; the stream then
    runs under a processingTime trigger until the source reports that
    offset. Trigger cadence moves batch boundaries only — every operator
    here follows watermark, not trigger, semantics — so both modes give
    the same rows (asserted in tests/test_streaming.py). With ``until``
    the driver does not wait for a watermark-only no-data batch after the
    last data batch: use it with complete/update mode, or append streams
    without a watermark.

    Mode notes for bounded replays: time-window aggregations can use
    'complete' (all windows emitted regardless of watermark); session
    windows only support 'append'/'update', so in append mode the tail
    sessions — those not yet closed by the final watermark — are
    withheld, and replay checks against batch must compare only sessions
    ending below ``max(ts) − watermark``.

    A failed attempt is logged and retried once with a fresh memory sink
    (the bounded replay is deterministic and side-effect-free, so a
    retry cannot change results); a second failure raises, chained to
    the first.

    ``state_width`` overrides :data:`STREAM_STATE_WIDTH` for streams
    whose per-batch cost is NOT the state commits: the
    ``applyInPandasWithState`` operators execute per-key Python work
    per batch, so their width is Python-task parallelism first and
    commit count second (measured interleaved A/B at sf0.1:
    stateful_profile 1.63 s at width 8 vs 2.30 s at width 4).
    """
    # one sink name per call: a retry's sink replaces the failed one's view
    name = f"sink_{uuid.uuid4().hex[:12]}"
    _run_bounded(
        spark,
        lambda: stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode),
        state_width=state_width,
        until=until,
    )
    return spark.table(name)


def stream_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner interval join: each ``left_type`` event
    matched to the same user's ``right_type`` events in the following
    ``within`` window.

    THE canonical funnel/attribution join, and the streaming operator
    with genuinely bidirectional state: each side buffers rows until
    the other side's watermark passes the end of the join range, so the
    time-range condition is what BOUNDS state — without it a
    stream-stream join would buffer both streams forever. State per
    side ≈ rate × (watermark + within), independent of stream length.

    Both sides derive from one source here (filtered twice — two
    independent readers of the same files); in production they'd be
    separate topics. Inner-join emission does not wait for the
    watermark (only state eviction and outer-join nulls do), so a
    bounded availableNow replay emits exactly the batch interval-join
    rows — which is the registered DuckDB oracle.

    ``how="left_outer"`` adds the null-padded rows for clicks with no
    purchase in the window — emitted only once the watermark proves no
    match can still arrive (state eviction time), which is WHY the
    outer form requires both the watermark and the time-range bound:
    without them "no match" is undecidable on an unbounded stream.
    On a bounded replay the final watermark settles at
    ``max(event time) − watermark``, so outer rows whose join window
    has not provably closed are withheld; replay checks against batch
    must restrict both sides to ``left_ts ≤ max(ts) − watermark −
    within`` (minus a safety margin for boundary semantics) — the same
    closed-region discipline the session-window replays use.
    """
    lt = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("left_id"),
            F.col("user_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    rt = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    return lt.join(
        rt,
        F.expr(
            f"user_id = r_user_id AND right_ts >= left_ts "
            f"AND right_ts <= left_ts + interval {within}"
        ),
        how,
    ).select("left_id", "right_id", "user_id", "left_ts", "right_ts")


def stream_merge_latest(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    events: DataFrame | None = None,
) -> DataFrame:
    """STREAM → MANAGED TABLE via ``foreachBatch`` + MERGE: the
    production pattern for keeping a serving table continuously
    upserted from a stream (X10 × S3 composed).

    A stateful update-mode aggregation maintains latest-event-per-user
    (``max_by`` over the (ts, event_id) order — order-insensitive, so
    the per-user state is micro-batch-split INVARIANT); every batch,
    ``foreachBatch`` MERGEs exactly the users whose state changed into
    the snapshot table (``sinks.merge_parquet`` — copy-on-write +
    atomic ``_SUCCESS`` commit). Batch-wins merge semantics are
    CORRECT here precisely because the stream state is monotone: each
    emitted row supersedes every earlier emission for that user, so
    the final table equals latest-per-user over the whole stream
    regardless of how the source was split into batches — the
    determinism a naive per-batch argmax + blind upsert does NOT have.

    Returns the final table state read back from the last committed
    snapshot. Bounded availableNow replay through :func:`_run_bounded`
    (narrowed state-store width, one logged retry). In production the
    same code runs unbounded with a watermark-bounded state TTL and
    per-file merge pruning in a real table format (the merge_parquet
    docstring's Delta swap point).
    """
    from ..sources import sinks

    # ``events`` override: tests pass a multi-file maxFilesPerTrigger=1
    # stream to force several micro-batches and pin the batch-split
    # invariance this docstring claims.
    if events is None:
        events = read_events_stream(spark, sf_dir)
    latest = (
        events.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "event_type", "value"),
                F.struct("ts", "event_id"),
            ).alias("s"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("s.ts").alias("ts"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
            "n_events",
        )
    )

    def write_batch(bdf: DataFrame, _bid: int) -> None:
        sinks.merge_parquet(
            bdf, table_root, ["user_id"], "user_id", keep_snapshots=1
        )

    # state-store width and retry: see _run_bounded (a fresh state dir
    # per attempt; merge snapshot versioning makes the second attempt's
    # commits supersede torn first-attempt output)
    _run_bounded(
        spark,
        lambda: latest.writeStream.outputMode("update").foreachBatch(write_batch),
    )
    snaps = sinks._committed_snapshots(spark, table_root)
    return spark.read.parquet(snaps[-1][1])
