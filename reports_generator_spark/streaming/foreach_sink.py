"""foreachBatch sink: streaming upsert into a keyed snapshot store.

The memory-sink keys (windowed.py) cover append/complete semantics;
this covers the third production sink pattern — ``foreachBatch`` with
a MERGE into a keyed table, the idiom for maintaining a "latest state
per key" serving table from an event stream when the target is a
plain table store (parquet/JDBC) rather than a streaming-native sink.

Per micro-batch: reduce the batch to one row per key (last event +
additive count), full-outer merge with the existing snapshot
(last-writer-wins on (event time, event_id), counts add), atomically
replace the snapshot. Batch-reduction means the merge input is
|keys|, not |events|; the merge itself is one equi-join on the key —
the shape that scales to any retained keyspace. The state carries
(last_ts, last_event_id) so the cross-batch ordering is the same
total order as the within-batch reduction — the final snapshot is
identical no matter how the stream was sliced into micro-batches.
foreachBatch hands us (batch_df, batch_id); idempotent retry would
skip an already-applied batch_id, which this docblock pins as the
production contract.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windowed import _stream_events, _stream_session


def _latest_per_key(df: DataFrame) -> DataFrame:
    """One row per (user_id, event_type): last (ts, event_id)-ordered
    event's value + row count. max_by on the (ts, event_id) struct is
    a partial-aggregable reduction — no window sort."""
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return df.groupBy("user_id", "event_type").agg(
        F.max(ord_).alias("last_key"),
        F.max_by("value", ord_).alias("last_value"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "user_id",
        "event_type",
        F.col("last_key.ts").alias("last_ts"),
        F.col("last_key.event_id").alias("last_event_id"),
        "last_value",
        "n_events",
    )


def merge_snapshot(cur: DataFrame, delta: DataFrame) -> DataFrame:
    """Pure MERGE of a ``_latest_per_key`` delta into the current
    snapshot (same schema): one full-outer equi-join on the key;
    last-writer-wins by the (last_ts, last_event_id) total order,
    counts add. Associative over batch slicing: folding any partition
    of the event stream through this merge yields the same snapshot
    (pinned in tests/test_stateful_stream.py)."""
    d = delta.select(
        "user_id",
        "event_type",
        F.col("last_ts").alias("d_ts"),
        F.col("last_event_id").alias("d_eid"),
        F.col("last_value").alias("d_value"),
        F.col("n_events").alias("d_n"),
    )
    cur_key = F.struct(F.col("last_ts"), F.col("last_event_id"))
    d_key = F.struct(F.col("d_ts"), F.col("d_eid"))
    take_delta = F.col("last_ts").isNull() | (d_key >= cur_key)
    pick = lambda dc, cc: (  # noqa: E731
        F.when(F.col("d_ts").isNotNull() & take_delta, dc).otherwise(cc)
    )
    return cur.join(d, ["user_id", "event_type"], "full_outer").select(
        "user_id",
        "event_type",
        pick(F.col("d_ts"), F.col("last_ts")).alias("last_ts"),
        pick(F.col("d_eid"), F.col("last_event_id")).alias("last_event_id"),
        pick(F.col("d_value"), F.col("last_value")).alias("last_value"),
        (
            F.coalesce("n_events", F.lit(0)) + F.coalesce("d_n", F.lit(0))
        ).alias("n_events"),
    )


# --------------------------------------------------------------------------
# Exactly-once foreachBatch publish: epoch-id idempotence.
#
# Structured Streaming's recovery contract for foreachBatch is
# AT-LEAST-ONCE: if the process dies between the sink running and the
# checkpoint acknowledging the epoch, the restarted query re-delivers
# the SAME (batch_df, batch_id). Exactly-once therefore lives in the
# sink: publication is a two-step (stage the batch, then atomically
# claim an epoch marker), and a replayed epoch finds the marker and
# becomes a no-op. This is precisely the Delta/Iceberg
# txnAppId/txnVersion idempotent-writer pattern.
# --------------------------------------------------------------------------
def exactly_once_publish(batch_df: DataFrame, batch_id: int, target: str) -> str:
    """Idempotent per-epoch publish into ``target``:

    1. STAGE the batch under ``_staged/epoch-{id}-{uuid}`` (a crash
       here leaves an unreferenced orphan — vacuum territory, never
       visible to readers);
    2. CLAIM ``_log/epoch-{id}.txt`` by hard-linking a fully-written
       temp file containing the staged dir's name (atomic
       create-with-content, same mechanics as the manifest log's OCC
       claim) — exactly one attempt per epoch can win.

    A replayed batch (same batch_id after crash-before-checkpoint-ack)
    finds the marker, removes its own re-staged dir and reports
    ``replay-skipped`` — readers resolve markers, so each epoch's rows
    are visible EXACTLY once no matter how many times the engine
    re-delivers it."""
    import tempfile

    staged_rel = f"epoch-{batch_id}-{uuid.uuid4().hex[:8]}"
    staged = os.path.join(target, "_staged", staged_rel)
    log_dir = os.path.join(target, "_log")
    os.makedirs(log_dir, exist_ok=True)
    marker = os.path.join(log_dir, f"epoch-{batch_id}.txt")
    if os.path.exists(marker):
        # fast path: a recovery can re-deliver MANY epochs — skip the
        # full batch write (at scale, a whole parquet job) when the
        # epoch is already published; the atomic link below still
        # guards the stage-vs-claim race this check can't see
        return "replay-skipped"
    batch_df.write.parquet(staged)
    fd, tmp = tempfile.mkstemp(
        prefix=f"epoch-{batch_id}.", suffix=".tmp", dir=log_dir
    )
    try:
        with os.fdopen(fd, "w") as f:
            f.write(staged_rel)
        try:
            os.link(tmp, marker)
        except FileExistsError:
            # the epoch already published (this is a replay): drop the
            # re-staged copy — the first publication stays the only one
            shutil.rmtree(staged, ignore_errors=True)
            return "replay-skipped"
        return "published"
    finally:
        os.remove(tmp)


def read_published(spark: SparkSession, target: str) -> DataFrame:
    """A reader resolves the epoch MARKERS, never the staging area:
    orphaned staged dirs (crash between stage and claim, or a replay's
    discarded copy) are invisible by construction."""
    log_dir = os.path.join(target, "_log")
    staged = [
        open(os.path.join(log_dir, m)).read().strip()
        for m in sorted(os.listdir(log_dir))
        if m.startswith("epoch-") and m.endswith(".txt")
    ]
    return spark.read.parquet(
        *[os.path.join(target, "_staged", s) for s in staged]
    )


def stream_exactly_once_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the events stream through the exactly-once sink as THREE
    micro-batches (3 source files, maxFilesPerTrigger=1), then replay
    epoch 1 — the crash-between-commit-and-checkpoint-ack recovery
    path, where Structured Streaming re-delivers the same (batch_df,
    batch_id) — and prove the published table is unchanged: the sink's
    epoch marker suppresses the second publication. Returns the final
    published relation's audit row; the duplicate count is a REAL
    cross-engine column (event_id is unique in the fixture, so any
    double-publish would surface as n_duplicate_rows > 0)."""
    s = _stream_session(spark)
    from ..plans.scale_joins import fixture_base

    base = fixture_base(spark, sf_dir, "eos")
    src = os.path.join(base, "src")
    target = os.path.join(base, "table")
    # the publish/replay protocol IS the operator — rebuild per run
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src)

    ev = s.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "event_type"
    )
    t0 = 1_600_000_000
    for i in range(3):
        tmp = os.path.join(base, f"__slice{i}")
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(tmp)
        fn = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice-{i}.parquet")
        shutil.copy(os.path.join(tmp, fn), dst)
        os.utime(dst, (t0 + 100 * i, t0 + 100 * i))  # mtime = batch order
        shutil.rmtree(tmp)

    outcomes: list[str] = []
    schema = s.read.parquet(src).schema
    stream = (
        s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: outcomes.append(exactly_once_publish(df, bid, target))
        )
        .option("checkpointLocation", os.path.join(base, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_published = outcomes.count("published")

    # THE REPLAY: re-deliver epoch 1 with its exact batch content (what
    # the engine does on restart if the ack for batch 1 was lost)
    replay_df = s.read.parquet(os.path.join(src, "slice-1.parquet"))
    replay_outcome = exactly_once_publish(replay_df, 1, target)
    n_suppressed = int(replay_outcome == "replay-skipped")

    pub = read_published(s, target)
    return pub.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias(
            "n_duplicate_rows"
        ),
        F.lit(n_published).cast("bigint").alias("n_epochs_published"),
        F.lit(n_suppressed).cast("bigint").alias("n_replays_suppressed"),
    )


def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the file-source event stream through a foreachBatch MERGE
    into a parquet snapshot; return the final snapshot."""
    spark = _stream_session(spark)
    target = os.path.join(
        tempfile.gettempdir(), f"rg_upsert_{uuid.uuid4().hex[:12]}"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        delta = _latest_per_key(batch_df)
        if os.path.isdir(target):
            cur = s.read.parquet(target)
            # materialize BEFORE overwriting the path being read
            merged = merge_snapshot(cur, delta).localCheckpoint()
            merged.write.mode("overwrite").parquet(target)
        else:
            delta.write.mode("overwrite").parquet(target)

    ev = _stream_events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    q = (
        ev.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", target + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(target).localCheckpoint()
    shutil.rmtree(target, ignore_errors=True)
    shutil.rmtree(target + "_chk", ignore_errors=True)
    return out


def _change_points(points: DataFrame) -> DataFrame:
    """Change-point compression: keep each row whose event_type
    differs from the previous row in (ts, event_id) order per user —
    the SCD2 state rows. Input: (user_id, event_type, ts, event_id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        points.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )


def stream_cdc_to_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain an SCD2 dimension INCREMENTALLY from a time-ordered
    change stream (the silver-layer pattern: CDC epochs → foreachBatch
    MERGE → point-in-time dimension). State = the change-point rows
    (each is an open/closed validity segment's start). Per batch:
    only the batch's AFFECTED users are touched — their stored change
    points merge with the new events and re-compress; untouched users
    pass through by left-anti (at 100 TB with a partitioned/MOR
    target this is the lakehouse family's partition-overwrite/DV
    merge; here the state table is snapshot-replaced).

    Correctness contract, stated precisely: micro-batches are sliced
    BY EVENT TIME (the watermarked-epoch CDC shape), under which
    re-compressing (stored change points ∪ new events) equals
    compressing the full history — an OUT-OF-ORDER insert between two
    same-type historical events would need the compressed-away rows
    back (pinned by a unit test asserting exactly that failure mode,
    which is why production late-CDC handling re-reads the affected
    key's raw history instead). Final dimension ≡ the batch
    scd2_intervals answer regardless of slicing — the SAME oracle
    text attests both keys."""
    import hashlib

    spark = _stream_session(spark)
    from pyspark.sql.types import TimestampNTZType

    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    if isinstance(ev.schema["ts"].dataType, TimestampNTZType):
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    ev = ev.select("user_id", "event_type", "ts", "event_id")

    tag = hashlib.md5(
        (os.path.abspath(sf_dir) + ":" + spark.sparkContext.applicationId).encode()
    ).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"rg_cdcscd2_{tag}")
    src = os.path.join(base, "src")
    if not os.path.exists(os.path.join(base, "_READY")):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(src)
        # time-sliced epochs: exact terciles of the ts order (the CDC
        # shape); quantiles over the epoch seconds since approxQuantile
        # rejects TimestampType
        b = ev.select(
            F.percentile_approx(F.unix_timestamp("ts"), F.lit([1 / 3, 2 / 3]), 10000)
        ).first()[0]
        lo, hi = int(b[0]), int(b[1])
        sec = F.unix_timestamp("ts")
        slices = {
            "epoch-0": sec <= F.lit(lo),
            "epoch-1": (sec > F.lit(lo)) & (sec <= F.lit(hi)),
            "epoch-2": sec > F.lit(hi),
        }
        t0 = 1_600_000_000
        for i, (name, pred) in enumerate(slices.items()):
            tmp = os.path.join(base, f"__{name}")
            ev.filter(pred).coalesce(1).write.parquet(tmp)
            f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
            dst = os.path.join(src, f"{name}.parquet")
            shutil.copy(os.path.join(tmp, f), dst)
            os.utime(dst, (t0 + 100 * i, t0 + 100 * i))
            shutil.rmtree(tmp)
        open(os.path.join(base, "_READY"), "w").close()

    state = os.path.join(base, f"state_{uuid.uuid4().hex[:8]}")

    def apply_epoch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = batch_df.select("user_id", "event_type", "ts", "event_id")
        if os.path.isdir(state):
            cur = s.read.parquet(state)
            users = batch.select("user_id").distinct()
            untouched = cur.join(users, "user_id", "left_anti")
            touched = cur.join(users, "user_id", "left_semi")
            recomputed = _change_points(touched.unionByName(batch))
            merged = untouched.unionByName(recomputed).localCheckpoint()
            merged.write.mode("overwrite").parquet(state)
        else:
            _change_points(batch).write.mode("overwrite").parquet(state)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    if isinstance(stream.schema["ts"].dataType, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    q = (
        stream.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", state + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    points = spark.read.parquet(state).localCheckpoint()
    shutil.rmtree(state, ignore_errors=True)
    shutil.rmtree(state + "_chk", ignore_errors=True)
    valid_to = F.lead("ts").over(w)
    return points.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
    )


def stream_topk_incremental(spark: SparkSession, sf_dir: str, k: int = 25) -> DataFrame:
    """Global top-k maintained incrementally across micro-batches: the
    stored state is ONLY the current top-k (k rows, not the stream),
    each batch folds its own top-k into it and re-truncates — exact,
    because top-k by a per-row static score is a distributive bound:
    topk(A ∪ B) = topk(topk(A) ∪ topk(B)). Ordering (value DESC,
    event_id DESC) is total, so the fold is deterministic under ANY
    batch slicing. The serving-table shape for leaderboards over
    unbounded streams: state O(k) regardless of stream length."""
    spark = _stream_session(spark)
    target = os.path.join(
        tempfile.gettempdir(), f"rg_topk_{uuid.uuid4().hex[:12]}"
    )

    def fold_topk(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_top = (
            batch_df.select("event_id", "user_id", "value")
            .orderBy(F.col("value").desc(), F.col("event_id").desc())
            .limit(k)
        )
        if os.path.isdir(target):
            cur = s.read.parquet(target)
            merged = (
                cur.unionByName(batch_top)
                .orderBy(F.col("value").desc(), F.col("event_id").desc())
                .limit(k)
                .localCheckpoint()
            )
            merged.write.mode("overwrite").parquet(target)
        else:
            batch_top.write.mode("overwrite").parquet(target)

    ev = _stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    q = (
        ev.writeStream.foreachBatch(fold_topk)
        .option("checkpointLocation", target + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(target).localCheckpoint()
    shutil.rmtree(target, ignore_errors=True)
    shutil.rmtree(target + "_chk", ignore_errors=True)
    return out
