"""Structured Streaming operators (SURVEY.md §2.3 T1/T2).

The reference polls a directory and appends each arriving file to the
parquet sink (Proof.scala:68-89, 147-151) — the modern idiom for that
loop is a file-source Structured Streaming query, which is what these
implement. The `spark-streaming` provided dependency (pom.xml:32-37)
is the reference's declared-but-unused intent.

Both run with `Trigger.AvailableNow` against the fixture parquet so
they terminate deterministically; in production the same code runs
unbounded with the watermark bounding state.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def _stream_session(spark: SparkSession) -> SparkSession:
    """Clone the session for a streaming run (same SparkContext, own
    SQLConf/catalog) and size its stream-side shuffle partitions.

    Stateful operators materialize one state-store instance PER
    shuffle partition per micro-batch; on a bounded fixture that fixed
    cost (open/commit/snapshot × partitions) dwarfs the data, so the
    stream runs with a small partition count. Scoping the override to
    a cloned session (instead of mutating the caller's conf and
    restoring it) means a concurrent query on the shared session can
    never observe — or clobber — the stream-side setting. A real 24/7
    deployment sizes this to keyspace ÷ target state per task — the
    knob, not the number, is the design."""
    from ..session import tune

    s = spark.newSession()
    tune(s)  # clone starts from context defaults, not the caller's runtime conf
    s.conf.set("spark.sql.shuffle.partitions", "8")
    return s


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. The file streaming
    source requires a *directory* (its basePath), so a single-file
    fixture is exposed through a per-sf symlink dir under /tmp."""
    import hashlib
    import os
    import tempfile

    from ..sources.tables import normalize_nanos_ts, table_schema

    src = f"{sf_dir}/events.parquet"
    tag = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"rg_stream_src_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(src), link)

    raw = spark.readStream.schema(table_schema(spark, src)).parquet(d)
    out = normalize_nanos_ts(raw)
    # Event-time operators (withWatermark) require TIMESTAMP_LTZ; naive
    # parquet micros infer as TIMESTAMP_NTZ. Under the engine's pinned
    # UTC session timezone the cast is value-preserving, and it stays
    # local to the streaming source so batch plans keep the stored type.
    if isinstance(out.schema["ts"].dataType, TimestampNTZType):
        out = out.withColumn("ts", F.col("ts").cast("timestamp"))
    return out


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute with availableNow into a memory sink; return the result
    as a batch DataFrame. Memory-sink collection is bounded: these are
    aggregate/dedup outputs, not raw streams. The stream must be built
    on a `_stream_session` clone — its scoped conf (not a mutate-and-
    restore on the shared session) carries the stream-side partition
    count."""
    name = f"rg_stream_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_tumbling_agg(
    spark: SparkSession, sf_dir: str, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """T1: watermarked tumbling-window counts/sums per event_type.

    Complete output mode so a single availableNow pass emits every
    window (append mode would hold back windows newer than the final
    watermark)."""
    ev = _stream_events(_stream_session(spark), sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def stream_dedup_keys(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """T2: watermarked streaming dedup on (user_id, event_type).

    Output restricted to the dedup keys so the result is deterministic
    (dropDuplicates keeps an arbitrary first row per key)."""
    ev = _stream_events(_stream_session(spark), sf_dir)
    dd = (
        ev.withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(dd, "append")


def _stream_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    how: str,
    watermark: str = "1 hour",
    horizon: str = "30 minutes",
) -> DataFrame:
    """ONE builder for both stream-stream interval-join keys (inner
    and left_outer differ ONLY in ``how`` — a single spec so a fix to
    the interval condition or watermark wiring can never diverge the
    two attested keys): each view joins purchases by the same user
    landing within ``horizon`` after the view.

    Both sides carry a watermark and the join condition bounds
    purchase_ts to [view_ts, view_ts + horizon], so the state store
    can evict a buffered row as soon as the other side's watermark
    passes its join window — the canonical bounded-state design for a
    24/7 two-stream correlation at scale.
    """
    spark = _stream_session(spark)
    views = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    ).select(
        # full_outer null-extends the VIEW side for unmatched purchases,
        # so the join key must be read from whichever side is present
        # (identical to the bare view-side column for inner/left_outer)
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        "view_ts",
        "purchase_ts",
    )
    return _run_to_memory(joined, "append")


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER variant: under availableNow on the fixture the output
    equals the batch interval join, which is what the oracle checks."""
    return _stream_stream_interval_join(spark, sf_dir, "inner")


def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER variant — the semantics the inner one cannot show:
    an unmatched left row may only emit its null-extended result once
    the GLOBAL watermark (min over both sources of max-event-time −
    delay) has passed its join window, because until then a matching
    right row could still arrive. Under availableNow the data batch
    runs with watermark 0 and the trailing no-data batch evicts:
    unmatched views with ``view_ts + horizon < W`` emit null rows; the
    tail of views inside the watermark horizon is deliberately HELD
    BACK (neither matched nor safe to null-emit) — the oracle states
    exactly that boundary, which makes this key a correctness pin
    rather than a smoke test."""
    return _stream_stream_interval_join(spark, sf_dir, "left_outer")


def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER variant — BOTH unmatched sides null-emit, each on its
    own watermark boundary (same shared spec, ``how`` is the only
    difference): an unmatched view emits once W passes its join-window
    end (view_ts + horizon < W, as in left_outer); an unmatched
    purchase emits once W passes its own event time (purchase_ts < W —
    the join condition bounds matching views to view_ts <= purchase_ts,
    so once no un-dropped view can be that old the purchase is provably
    orphaned). Rows on either side inside the watermark horizon are
    withheld."""
    return _stream_stream_interval_join(spark, sf_dir, "full_outer")


def stream_stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER variant — the purchase side's null-emission boundary
    in isolation (the mirror of left_outer, fourth cell of the outer
    matrix, same shared spec): an unmatched purchase emits its
    null-extended row once W passes its event time (purchase_ts < W;
    matching views need view_ts <= purchase_ts, so past W none can
    still arrive); the view side never null-emits."""
    return _stream_stream_interval_join(spark, sf_dir, "right_outer")


def stream_sliding_window_agg(
    spark: SparkSession,
    sf_dir: str,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding (overlapping) windowed aggregation: each event lands in
    window/slide = 2 windows, so the state store carries 2× the
    tumbling key count — the overlap factor, not the data rate, sizes
    sliding-window state. Complete mode for the bounded availableNow
    pass (same rationale as stream_tumbling_agg)."""
    ev = _stream_events(_stream_session(spark), sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def stream_watermark_late_drop(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list]:
    """Watermark LATE-DATA DROP, actually exercised across micro-batches
    (the single-batch availableNow keys never evict, so nothing is ever
    late in them): three event files process as three batches
    (maxFilesPerTrigger=1, mtime-ordered), the first carries the
    GLOBAL-MAX timestamp so every watermark boundary collapses to ONE
    value W = max(ts) − 1h, and the measured mechanics are:

    - batch 0 (slice A, has the max): watermark still unset — all
      windows enter state;
    - batch 1 (slice B): arrives BEFORE eviction, merges into state
      (late-but-not-yet-evicted rows are NOT dropped — measured, and
      exactly the documented update semantics); end-of-batch eviction
      then emits every window with end ≤ W;
    - batch 2 (slice C): its rows target EVICTED windows → dropped
      (numRowsDroppedByWatermark > 0 — the behavioral test asserts the
      actual drop count).

    Deterministic output: per-day windows with end ≤ W counting A∪B
    rows only — the DuckDB oracle states exactly that slice. Returns
    (result_df, query_progress) so tests can assert the drop metrics.
    """
    import hashlib
    import os
    import shutil
    import tempfile

    s = _stream_session(spark)
    ev = _stream_events_batchdf(s, sf_dir)
    mx = ev.agg(F.max("ts")).first()[0]  # scalar-only collect

    tag = hashlib.md5(
        (os.path.abspath(sf_dir) + ":" + spark.sparkContext.applicationId).encode()
    ).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"rg_wmdrop_{tag}")
    src = os.path.join(base, "src")
    if not os.path.exists(os.path.join(base, "_READY")):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(src)
        slices = {
            "batch-a": (F.col("event_id") % 3 == 0) | (F.col("ts") == mx),
            "batch-b": (F.col("event_id") % 3 == 1) & (F.col("ts") != mx),
            "batch-c": (F.col("event_id") % 3 == 2) & (F.col("ts") != mx),
        }
        t = 1_600_000_000
        for i, (name, pred) in enumerate(slices.items()):
            tmp = os.path.join(base, f"__{name}")
            # one file per batch: the batch boundary IS the fixture
            ev.filter(pred).coalesce(1).write.parquet(tmp)
            f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
            dst = os.path.join(src, f"{name}.parquet")
            shutil.copy(os.path.join(tmp, f), dst)
            os.utime(dst, (t + 100 * i, t + 100 * i))  # mtime = batch order
            shutil.rmtree(tmp)
        open(os.path.join(base, "_READY"), "w").close()

    schema = s.read.parquet(src).schema
    stream = (
        s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    if isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = f"rg_wmdrop_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = list(q.recentProgress)
    out = s.table(name).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_start"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )
    return out, progress


def _stream_events_batchdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of events with the same ts normalization the
    streaming source applies (shared by the late-drop fixture
    builder)."""
    from ..sources.tables import load_table

    out = load_table(spark, sf_dir, "events")
    if isinstance(out.schema["ts"].dataType, TimestampNTZType):
        out = out.withColumn("ts", F.col("ts").cast("timestamp"))
    return out.select("event_id", "user_id", "ts")


def stream_session_window(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list]:
    """Native STREAMING ``session_window`` under ``withWatermark`` —
    the built-in merging-session stateful operator, exercised across
    real micro-batches (VERDICT r10 item 5; the batch twin is
    session_window_native, so batch and stream share one semantics).

    Fixture: three mtime-ordered files process as three batches
    (maxFilesPerTrigger=1) —

    - batch 0 (even event_ids) and batch 1 (odd event_ids) INTERLEAVE
      every user's events, so sessions genuinely MERGE across batches
      in the state store (the property a single-batch run never
      tests). The 90-day watermark delay exceeds the 30-day event
      span, so no row is late and nothing can emit yet: after batch 1
      the state holds every session, the sink holds zero rows.
    - batch 2 is ONE sentinel row (user_id = −1, ts = max + 365 d):
      it advances the watermark to max + 275 d, past every real
      session's end, so end-of-batch eviction emits ALL real sessions
      in one append. The sentinel's own session (end = max + 365 d +
      30 min > watermark) is the WITHHELD TAIL: it stays in state —
      the last progress's stateOperators shows exactly 1 row of state
      — and never reaches the sink.

    Deterministic output: the complete per-user sessionization of the
    raw events — the DuckDB oracle restates it with the lag/cumsum
    sessionizer, and the boundary convention matches the batch key
    (gap-equal event starts a NEW session; window end exclusive).
    Returns (result_df, query_progress) so tests can assert the
    eviction/withheld-state metrics."""
    import hashlib
    import os
    import shutil
    import tempfile

    s = _stream_session(spark)
    ev = _stream_events_batchdf(s, sf_dir)
    mx = ev.agg(F.max("ts")).first()[0]  # scalar-only collect

    tag = hashlib.md5(
        (os.path.abspath(sf_dir) + ":" + spark.sparkContext.applicationId).encode()
    ).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"rg_sesswin_{tag}")
    src = os.path.join(base, "src")
    if not os.path.exists(os.path.join(base, "_READY")):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(src)
        sentinel = s.range(1).select(
            F.lit(-1).cast("bigint").alias("event_id"),
            F.lit(-1).cast("bigint").alias("user_id"),
            (F.lit(mx) + F.expr("INTERVAL 365 DAYS")).alias("ts"),
        )
        slices = {
            "batch-a": ev.filter(F.col("event_id") % 2 == 0),
            "batch-b": ev.filter(F.col("event_id") % 2 == 1),
            "batch-c": sentinel,
        }
        t = 1_600_000_000
        for i, (name, df) in enumerate(slices.items()):
            tmp = os.path.join(base, f"__{name}")
            df.coalesce(1).write.parquet(tmp)
            f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
            dst = os.path.join(src, f"{name}.parquet")
            shutil.copy(os.path.join(tmp, f), dst)
            os.utime(dst, (t + 100 * i, t + 100 * i))  # mtime = batch order
            shutil.rmtree(tmp)
        open(os.path.join(base, "_READY"), "w").close()

    schema = s.read.parquet(src).schema
    stream = (
        s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    if isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "90 days")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name = f"rg_sesswin_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = list(q.recentProgress)
    out = s.table(name).select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        (F.col("sw.end") - F.expr("INTERVAL 30 MINUTES")).alias("last_event_ts"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )
    return out, progress
