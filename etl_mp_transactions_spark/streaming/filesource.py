"""Structured-Streaming re-expression of the reference's event path
(SURVEY.md §2.7).

Reference semantics → Spark:

- R3 per-file micro-batch (one GCS notification = one pipeline run,
  main.py:92-131): file source with ``maxFilesPerTrigger=1`` /
  ``Trigger.AvailableNow`` — Spark discovers new files natively; no
  Pub/Sub push loop, no HTTP handler.
- R1 cross-batch exactly-once dedup (Redis ``processed_checksums`` set,
  src/redis_tools.py:38-54): ``dropDuplicates`` over the key with the
  checkpointed state store; replaying the same file contributes 0 new
  rows across restarts (checkpoint = the state contract).
- R2 per-key mutex (Redis SET NX EX): not needed — state-store updates
  are transactional per micro-batch.
- R5 sink batching: trigger cadence + ``foreachBatch``.

At scale: state for dropDuplicates is partitioned by key across the
cluster; unbounded key-history should switch to
``dropDuplicatesWithinWatermark`` to bound state (both shown here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mp_transactions_spark.sources.tables import SCHEMAS


def stream_files_available_now(
    spark: SparkSession,
    src_dir: str,
    schema=None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory (the GCS-bucket analog)."""
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def run_available_now_to_parquet(
    df: DataFrame, checkpoint_dir: str, out_dir: str, partition_by: list[str] | None = None
) -> DataFrame:
    """Shared sink pattern: one AvailableNow pass appending to a
    parquet sink (checkpoint-recoverable), returning the accumulated
    output. Used by dedup, windowed, funnel, and silver streams."""
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return df.sparkSession.read.parquet(out_dir)


def run_available_now_to_memory(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str,
    src_dir: str,
    query_name: str | None = None,
) -> DataFrame:
    """Shared memory-sink pattern: one AvailableNow pass of a stateful
    query under the scale-adaptive state-partition count for
    ``src_dir``, returning the sink's table. The table is named
    ``query_name``, or a fresh unique name so runs in one session
    never collide. Used by the windowed, sliding and session streams
    and the stream-static, custom-state, late-drop and kappa entries."""
    import uuid

    spark = df.sparkSession
    name = query_name or f"stream_mem_{uuid.uuid4().hex[:8]}"
    with scaled_state_partitions(spark, src_dir):
        (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def drain_files(
    spark: SparkSession, src_dir: str, schema, fn, checkpoint_dir: str
) -> None:
    """One AvailableNow pass over ``src_dir``: one parquet file per
    micro-batch, ``fn(batch_df, batch_id)`` as the foreachBatch body —
    the reference's one-notification-one-run loop (main.py:92-131).
    The checkpoint skips files already committed; a batch that ran
    but did not commit re-runs with the same id and the same file."""
    (
        stream_files_available_now(
            spark, src_dir, schema=schema, max_files_per_trigger=1
        )
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


class BatchLedger:
    """The store of earlier micro-batches' results that a batch reads
    back: a directory of ``batch=<id>`` parquet partitions, each owned
    by one micro-batch (``-1`` holds a generation loaded before the
    stream starts) — the file-store form of the reference's Redis set
    of processed checksums (src/redis_tools.py:42-54).

    Replay rule: foreachBatch may re-run a batch id after a failure
    (a restart re-executes the last batch whose offsets were logged
    but whose commit was not), and the re-run must not see its own
    earlier attempt. So a batch reads with :meth:`except_` — every
    partition but its own, which is exactly the earlier batches — and
    writes with :meth:`write`, which overwrites its own partition.
    Each partition is then a deterministic function of (batch
    content, batch id, earlier partitions), and a re-run rewrites it
    byte-identically: an exactly-once effect with no transaction log
    and no sink transaction. A re-delivered file arrives as a new
    batch id; it contributes nothing where the runner anti-joins its
    rows against :meth:`except_`.

    Reads list the partition directories explicitly under the
    explicit ``schema`` and return an empty frame of that schema when
    there is nothing to read."""

    def __init__(self, spark: SparkSession, root: str, schema: str):
        self.spark = spark
        self.root = root
        self.schema = schema

    def _path(self, batch_id: int) -> str:
        return os.path.join(self.root, f"batch={batch_id}")

    def _read(self, dirs: list[str]) -> DataFrame:
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*dirs)

    def _dirs(self, skip: str | None = None) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return [
            os.path.join(self.root, d)
            for d in sorted(os.listdir(self.root))
            if d.startswith("batch=") and d != skip
        ]

    def write(self, batch_id: int, df: DataFrame) -> None:
        """Overwrite ``batch_id``'s partition with ``df``."""
        df.write.mode("overwrite").parquet(self._path(batch_id))

    def read(self, batch_id: int) -> DataFrame:
        """``batch_id``'s own partition as :meth:`write` stored it.
        Separate from write because building the read-back frame
        costs CPU that most writers would waste."""
        return self._read([self._path(batch_id)])

    def except_(self, batch_id: int) -> DataFrame:
        """Every partition but ``batch_id``'s own."""
        return self._read(self._dirs(skip=f"batch={batch_id}"))

    def all(self) -> DataFrame:
        """Every partition."""
        return self._read(self._dirs())


def stream_state_partitions(
    src_dir: str, target_bytes: int | None = None
) -> int:
    """Scale-adaptive state-partition count for a stateful stream
    over a staged file source: ceil(staged bytes / target), floor 8.

    A stateful streaming query's state partitioning is FIXED at
    ``spark.sql.shuffle.partitions`` when the query first starts and
    AQE cannot coalesce it (AQE is disabled for stateful workloads),
    so inheriting the session's batch default (2·cores at the bench)
    pays the per-partition per-operator store open/commit fixed cost
    regardless of data size — measured on the sf0.1 funnel join:
    64 partitions = 14.5s (4.7s for the EMPTY finalization batch),
    8 partitions = 6.1s, identical output. Deriving the count from
    the staged input size (guide §2.2 "fewer, larger partitions",
    made scale-adaptive) keeps the local bench honest and grows the
    partition count linearly with the corpus; the per-partition
    target is env-tunable (SPARK_GRAFT_STREAM_PART_BYTES, default
    64 MiB — at cluster scale raise toward 128-512 MiB so state
    stores stay few and fat)."""
    import math

    if target_bytes is None:
        target_bytes = int(
            os.environ.get(
                "SPARK_GRAFT_STREAM_PART_BYTES", str(64 * 1024 * 1024)
            )
        )
    total = 0
    for root, _, fs in os.walk(src_dir):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return max(8, math.ceil(total / target_bytes))


class scaled_state_partitions:
    """Context manager: pin ``spark.sql.shuffle.partitions`` to the
    scale-adaptive count for the duration of one stream start+await,
    then restore the session value. Streaming reads the conf at query
    start; batch queries in the same session are unaffected because
    every runner here blocks until its stream terminates."""

    def __init__(self, spark: SparkSession, src_dir: str):
        self._spark = spark
        self._src_dir = src_dir
        self._old: str | None = None

    def __enter__(self):
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(stream_state_partitions(self._src_dir)),
        )
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


def stream_dedup_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    key: str = "event_id",
    within_watermark: bool = False,
) -> DataFrame:
    """Run one AvailableNow pass: read files → exactly-once dedup on
    `key` → append to a parquet sink (a file sink, unlike the memory
    sink, supports checkpoint recovery — and is the realistic K1
    shape). Returns the accumulated output. Re-running with the same
    checkpoint after re-adding an already-seen file appends 0 new rows
    (the R1 replay contract — tested in tests/test_streaming.py)."""
    stream = stream_files_available_now(spark, src_dir, schema=_events_schema())
    if within_watermark:
        # watermarks require TIMESTAMP (with-timezone); the source ts is
        # timestamp_ntz and the session TZ is UTC, so the cast is
        # instant-preserving (same as the windowed/session paths)
        deduped = (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark([key])
        )
    else:
        deduped = stream.dropDuplicates([key])
    with scaled_state_partitions(spark, src_dir):
        return run_available_now_to_parquet(deduped, checkpoint_dir, out_dir)


def stream_windowed_counts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_window_out",
    window: str = "1 hour",
    watermark: str = "2 hours",
    output_mode: str = "append",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over the event stream —
    the streaming twin of the batch `window_tumbling` query (same
    F.window expression; late rows beyond the watermark drop).

    output_mode: 'append' emits only watermark-finalized windows (the
    production low-latency shape — windows above the final watermark
    are withheld at end-of-stream); 'complete' re-emits every window,
    which makes a finite AvailableNow run equal the batch aggregation
    exactly — the mode the oracle-checked registry entry uses."""
    stream = stream_files_available_now(spark, src_dir, schema=_events_schema())
    # watermarks require TIMESTAMP (with-timezone); session TZ is UTC so
    # the ntz→ltz cast is instant-preserving
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_available_now_to_memory(
        agg, checkpoint_dir, output_mode, src_dir, out_table
    )


def stream_sliding_counts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_sliding_out",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    output_mode: str = "complete",
) -> DataFrame:
    """Watermarked SLIDING-window aggregation over the event stream —
    the streaming twin of the batch `window_sliding` query (same
    F.window(size, slide) expression; each event feeds size/slide
    overlapping windows). Complete-mode AvailableNow makes the finite
    run equal the batch aggregation exactly; the per-event fan-out to
    overlapping windows happens inside Spark's stateful window
    operator, not by materializing duplicate rows."""
    stream = stream_files_available_now(spark, src_dir, schema=_events_schema())
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "n",
            "total_value",
        )
    )
    return run_available_now_to_memory(
        agg, checkpoint_dir, output_mode, src_dir, out_table
    )


def stream_session_counts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_session_out",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    output_mode: str = "complete",
) -> DataFrame:
    """Watermarked session-window aggregation over the event stream —
    the streaming twin of the batch `window_session` query (same
    F.session_window expression; the state store merges sessions that
    span micro-batch boundaries).

    In complete mode a finite AvailableNow run emits every merged
    session, so the result equals batch sessionization exactly — the
    oracle-checked mode. Append mode (watermark-finalized sessions
    only) is the production shape; sessions still open at end-of-
    stream are withheld there, so it is exercised in tests, not the
    oracle entry."""
    stream = stream_files_available_now(spark, src_dir, schema=_events_schema())
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )
    return run_available_now_to_memory(
        agg, checkpoint_dir, output_mode, src_dir, out_table
    )


def stream_continuous_agg_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Continuous aggregate (hypertable-rollup contract): each
    micro-batch writes its *partial* aggregate (count + exact-cents
    sum per (hour, event_type)) to its own ledger partition; the
    readable view merges all batch partials with one group-by.

    Aggregate merges are NOT idempotent under foreachBatch replay (a
    re-run batch merged in place would double-count), but a partial
    that overwrites its own partition is (BatchLedger's replay rule).
    Merge cost at read ∝ number of batch partials × group cardinality
    (kilobytes each).

    The batch twin is a plain groupBy over all events — equality is
    the oracle statement (streaming partial-merge == batch)."""
    partials = BatchLedger(
        spark,
        state_dir,
        "window_start timestamp, event_type string, n bigint,"
        " value_cents bigint",
    )

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        partials.write(
            batch_id,
            batch_df.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"),
                "event_type",
            ).agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                    "value_cents"
                ),
            ),
        )

    drain_files(spark, src_dir, _events_schema(), write_partial, checkpoint_dir)
    return (
        partials.all()
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n").alias("n"),
            (F.sum("value_cents").cast("double") / 100).alias("total_value"),
        )
    )


def stream_upsert_latest_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Keep-latest upsert sink via ``foreachBatch`` — the streaming
    MERGE INTO contract (R5 + K1): each micro-batch merges into a
    state table keyed by user_id, newest row per key wins (ordered by
    ts, then event_id as the deterministic tiebreak).

    The merge is a max-by — associative, commutative, idempotent — so
    the final table equals the batch "latest per key" regardless of
    file arrival order or micro-batch boundaries, and batch replay
    after a restart converges to the same state (exactly-once effect
    without sink transactions).

    State here is a versioned parquet swap (write v{batch}, then
    retarget "live") because the sandbox has no table format; on a
    real deployment this callback body is one ``MERGE INTO`` against
    Delta/Iceberg and the swap bookkeeping disappears. Scale shape:
    per-batch shuffle on the key only — old state is read back keyed,
    never collected."""
    import shutil

    from pyspark.sql import Window

    live = os.path.join(state_dir, "live")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if os.path.exists(live):
            merged = (
                sess.read.parquet(live)
                .unionByName(latest)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        else:
            merged = latest
        staged = os.path.join(state_dir, f"v{batch_id}")
        # materialize the merge BEFORE dropping the old state: the swap
        # is write-new → remove-old → rename, never read-while-delete
        merged.write.mode("overwrite").parquet(staged)
        shutil.rmtree(live, ignore_errors=True)
        os.rename(staged, live)

    drain_files(spark, src_dir, _events_schema(), merge_batch, checkpoint_dir)
    return spark.read.parquet(live)


def _events_schema():
    """events schema with µs timestamps (streams are written by our own
    staging copy, which normalizes the nanos column)."""
    return SCHEMAS["events"]


def stage_events_as_files(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4
) -> str:
    """Copy the events table into `stage_dir` as n parquet files — the
    'bucket' a file-source stream watches. Uses the typed loader so the
    nanos column is normalized once at staging time."""
    from etl_mp_transactions_spark.sources.tables import load_table

    os.makedirs(stage_dir, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(n_files).write.mode("overwrite").parquet(stage_dir)
    return stage_dir


# bump when the staging layout above changes (cache key below)
_EVENTS_STAGE_VERSION = "v1"


def staged_events_cached(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Immutable staged copy of the events table, built once per
    (SF, n_files, version) on this machine with an atomic-rename
    publish — streaming queries stream FROM here (or file-copy from
    here when they need a private mutable stage), so repeated
    gate/bench runs pay the staging Spark job zero times instead of
    once per query run. Content is a pure function of the source
    table, so any published copy is identical."""
    import shutil
    import tempfile
    import uuid

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    target = os.path.join(
        tempfile.gettempdir(),
        f"sg_events_stage_{_EVENTS_STAGE_VERSION}_{sf_tag}_{n_files}",
    )
    marker = os.path.join(target, "_SUCCESS")
    if not os.path.exists(marker):
        staging = f"{target}.build-{uuid.uuid4().hex[:8]}"
        stage_events_as_files(spark, sf_dir, staging, n_files=n_files)
        try:
            os.rename(staging, target)
        except OSError:
            if os.path.exists(marker):
                shutil.rmtree(staging, ignore_errors=True)
            else:
                shutil.rmtree(target, ignore_errors=True)
                os.rename(staging, target)
    return target


def staged_event_batches_cached(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> str:
    """Immutable staged copy of events split into n_batches files by
    the SQL-expressible rule ``event_id % n_batches`` with strictly
    increasing modification times, so a ``maxFilesPerTrigger=1``
    stream processes batch b exactly b-th — the precondition for an
    ORACLE-checkable watermark/late-data policy (the plain
    repartition staging above has no SQL-expressible row→file rule).
    Atomic-rename publish like staged_events_cached."""
    import shutil
    import tempfile
    import uuid

    from etl_mp_transactions_spark.sources.tables import load_table

    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    target = os.path.join(
        tempfile.gettempdir(),
        f"sg_event_batches_{_EVENTS_STAGE_VERSION}_{sf_tag}_{n_batches}",
    )
    marker = os.path.join(target, "_DONE")
    if not os.path.exists(marker):
        staging = f"{target}.build-{uuid.uuid4().hex[:8]}"
        os.makedirs(staging, exist_ok=True)
        ev = load_table(spark, sf_dir, "events")
        for b in range(n_batches):
            sub = os.path.join(staging, f"_b{b}")
            (
                ev.filter(F.col("event_id") % n_batches == b)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(sub)
            )
            part = [
                f for f in os.listdir(sub) if f.endswith(".parquet")
            ][0]
            dst = os.path.join(staging, f"batch-{b:04d}.parquet")
            shutil.move(os.path.join(sub, part), dst)
            shutil.rmtree(sub, ignore_errors=True)
            # strictly increasing mtimes fix the stream's file order
            os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
        open(os.path.join(staging, "_DONE"), "w").close()
        try:
            os.rename(staging, target)
        except OSError:
            if os.path.exists(marker):
                shutil.rmtree(staging, ignore_errors=True)
            else:
                shutil.rmtree(target, ignore_errors=True)
                os.rename(staging, target)
    return target


_SEEN_SCHEMA = "ch string"


def stream_incremental_dedup_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    store_dir: str,
) -> DataFrame:
    """Streaming incremental corpus dedup (R17): new documents arrive
    as files; each micro-batch anti-joins its content hashes against
    the corpus key ledger, emits the survivors, and commits their
    keys — the streaming twin of the batch
    ``dedup_incremental_new_vs_old`` (queries/dedup.py) and the scaled
    shape of the reference's Redis-checked ingest loop
    (src/redis_tools.py:38-54 + main.py:92-131, one notification =
    one micro-batch).

    Both the output and the key commit are ledger partitions of the
    batch (BatchLedger's replay rule), so the naive write-then-commit
    race cannot arise: commit-first would empty a re-run's anti-join
    and wipe its output, output-first would duplicate keys. Bootstrap
    corpus keys load under ``batch=-1`` via :func:`bootstrap_seen_store`.
    """
    seen = BatchLedger(spark, store_dir, _SEEN_SCHEMA)
    out = BatchLedger(spark, out_dir, "ch string, canonical_doc_id long")

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        keyed = batch_df.withColumn("ch", F.md5("text"))
        w = Window.partitionBy("ch").orderBy("doc_id")
        first = (
            keyed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_rows = first.join(
            F.broadcast(seen.except_(batch_id)), "ch", "left_anti"
        ).localCheckpoint(eager=True)
        out.write(
            batch_id,
            new_rows.select("ch", F.col("doc_id").alias("canonical_doc_id")),
        )
        seen.write(batch_id, new_rows.select("ch"))

    drain_files(
        spark, src_dir, SCHEMAS["documents"], dedup_batch, checkpoint_dir
    )
    return out.all()


def bootstrap_seen_store(
    spark: SparkSession, keys: DataFrame, store_dir: str
) -> None:
    """Load an existing corpus's content hashes into the incremental
    store as the ``batch=-1`` generation (``keys``: one string column
    named ch)."""
    BatchLedger(spark, store_dir, _SEEN_SCHEMA).write(-1, keys.select("ch"))


_NEARDUP_INDEX_SCHEMA = (
    "doc_id long, sk string, sig array<bigint>, band_0 string, band_1 string"
)


def _neardup_index_rows(docs: DataFrame) -> DataFrame:
    """Index rows for ``docs``: the MinHash signature as an array, its
    md5 signature key ``sk`` and the two LSH band keys."""
    from etl_mp_transactions_spark.operators import textdedup

    nh = textdedup.NUM_HASHES
    sig = textdedup.minhash_signatures(docs)
    hcols = [F.col(f"h{i}").cast("string") for i in range(nh)]
    sig_arr = F.array(*[F.col(f"h{i}") for i in range(nh)])
    return sig.withColumn("sk", F.md5(F.concat_ws(",", *hcols))).select(
        "doc_id", "sk", sig_arr.alias("sig"), "band_0", "band_1"
    )


def stream_neardup_index_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    index_dir: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Streaming NEAR-dup against an incrementally-maintained MinHash
    band index (R18) — the near-duplicate stage of the continuous-
    crawl ingest loop, completing the streaming twin of the batch
    ``dedup_incremental_new_vs_old`` (r17 covers its exact stage).

    Each micro-batch: signatures for the arriving docs
    (textdedup.minhash_signatures — 16 portable md5-derived hashes, 2
    LSH bands), identical-signature matches by signature-key join
    (est ≡ 1.0, no verification), cross-signature candidates by band
    join against the DISTINCT indexed signatures (the
    dedup_minhash_lsh collapse lesson — buckets never hold doc
    copies), zip_with agreement verify at est ≥ threshold, smallest
    matching prior doc id for canonical attribution. Then ALL
    arriving docs' signature rows commit to the index ledger — they
    are corpus now.

    Docs whose ids are already indexed are skipped entirely, so a
    re-delivered file contributes zero. Bootstrap the existing corpus
    with :func:`bootstrap_neardup_index` (``batch=-1``).
    """
    from etl_mp_transactions_spark.operators import textdedup

    nh = textdedup.NUM_HASHES
    index = BatchLedger(spark, index_dir, _NEARDUP_INDEX_SCHEMA)
    matches = BatchLedger(
        spark, out_dir, "doc_id long, dup_kind string, matched_old_id long"
    )

    def match_batch(batch_df: DataFrame, batch_id: int) -> None:
        old = index.except_(batch_id)
        fresh = batch_df.join(
            F.broadcast(old.select("doc_id").distinct()),
            "doc_id",
            "left_anti",
        )
        rows = _neardup_index_rows(fresh).localCheckpoint(eager=True)
        old_min = old.groupBy("sk").agg(F.min("doc_id").alias("old_id"))
        exact = (
            rows.join(old_min, "sk")
            .groupBy("doc_id")
            .agg(F.min("old_id").alias("matched_old_id"))
        )
        old_sig = old.dropDuplicates(["sk"]).select(
            F.col("sk").alias("osk"),
            F.col("sig").alias("osig"),
            "band_0",
            "band_1",
        )
        osk_min = old_min.select(F.col("sk").alias("osk"), "old_id")
        bandx = F.explode(F.array("band_0", "band_1")).alias("band_key")
        bn = rows.dropDuplicates(["sk"]).select("sk", "sig", bandx)
        bo = old_sig.select("osk", "osig", bandx)
        agree = F.size(
            F.filter(
                F.expr("zip_with(sig, osig, (a, b) -> a = b)"),
                lambda x: x,
            )
        )
        cross = (
            bn.join(bo, "band_key")
            .filter(F.col("sk") != F.col("osk"))
            .dropDuplicates(["sk", "osk"])
            .withColumn("est", agree / F.lit(float(nh)))
            .filter(F.col("est") >= threshold)
            .select("sk", "osk")
        )
        cross_min = (
            cross.join(osk_min, "osk")
            .groupBy("sk")
            .agg(F.min("old_id").alias("cross_old"))
        )
        near = (
            rows.select("doc_id", "sk")
            .join(cross_min, "sk")
            .join(exact.select("doc_id"), "doc_id", "left_anti")
            .select(
                "doc_id", F.col("cross_old").alias("matched_old_id")
            )
        )
        out = exact.select(
            "doc_id",
            F.lit("exact_sig").alias("dup_kind"),
            "matched_old_id",
        ).unionByName(
            near.select(
                "doc_id", F.lit("near").alias("dup_kind"), "matched_old_id"
            )
        ).localCheckpoint(eager=True)
        matches.write(batch_id, out)
        index.write(batch_id, rows)

    drain_files(
        spark, src_dir, SCHEMAS["documents"], match_batch, checkpoint_dir
    )
    return matches.all()


def bootstrap_neardup_index(
    spark: SparkSession, docs: DataFrame, index_dir: str
) -> None:
    """Index an existing corpus's signatures as ``batch=-1``."""
    BatchLedger(spark, index_dir, _NEARDUP_INDEX_SCHEMA).write(
        -1, _neardup_index_rows(docs)
    )


def stream_ivfpq_ingest_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    index_dir: str,
    cb: DataFrame,
    pb: DataFrame,
) -> DataFrame:
    """Streaming IVF-PQ vector ingest (R19): arriving embedding
    batches encode against FROZEN codebooks (operators/ivfpq.py
    encode_against_books) and append to a batch-partitioned parquet
    code index — the streaming twin of the batch
    ``ivfpq_incremental_encode`` and the ingest loop a production ANN
    index actually runs (fit/refresh the quantizers offline, encode
    the firehose online; stored codes never change).

    Frozen books make every vector's code independent of its batch
    (pinned by tests/test_ivfpq.py); a re-delivered file contributes
    zero via the already-indexed skip on vec_id.
    """
    from etl_mp_transactions_spark.operators import ivfpq as ivfpq_ops

    index = BatchLedger(
        spark, index_dir, "vec_id long, cid long, pq_code long, distortion long"
    )

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.join(
            index.except_(batch_id).select("vec_id"), "vec_id", "left_anti"
        )
        _, packed = ivfpq_ops.encode_against_books(fresh, cb, pb)
        index.write(
            batch_id,
            packed.select(
                "vec_id",
                F.col("cid").cast("long").alias("cid"),
                "pq_code",
                "distortion",
            ),
        )

    drain_files(
        spark, src_dir, SCHEMAS["embeddings"], encode_batch, checkpoint_dir
    )
    return index.all()


def stream_quality_gate_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    verdict_dir: str,
    lm: DataFrame,
    params: DataFrame,
) -> DataFrame:
    """Streaming quality gate (R20): arriving document batches score
    against the FROZEN feature LM + logistic model
    (queries/quality_clf.score_against) and append to a
    batch-partitioned verdict table — the deployed life of a trained
    corpus filter (fit offline, gate the crawl firehose online).

    Frozen state makes every document's verdict independent of its
    batch; a re-delivered file contributes zero via the
    already-scored skip on doc_id."""
    from etl_mp_transactions_spark.queries.quality_clf import score_against

    verdicts = BatchLedger(
        spark,
        verdict_dir,
        "doc_id long, lang string, x long, p_nano long, keep boolean",
    )

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.join(
            verdicts.except_(batch_id).select("doc_id"), "doc_id", "left_anti"
        )
        verdicts.write(batch_id, score_against(fresh, lm, params))

    drain_files(
        spark, src_dir, SCHEMAS["documents"], score_batch, checkpoint_dir
    )
    return verdicts.all()


def stream_rerank_serving_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    cb: DataFrame,
    pb: DataFrame,
    codes: DataFrame,
    vectors: DataFrame,
    k_neighbors: int = 5,
) -> DataFrame:
    """Streaming refined ANN serving (R21): arriving QUERY batches
    ADC-retrieve against the FROZEN trained index and exact-re-rank
    against the original vectors (operators/ivfpq_train.py
    rerank_exact — the IndexRefineFlat serving path), appending to a
    batch-partitioned result table. This is the online half of the
    production lifecycle: books trained and corpus encoded offline
    (both frozen here), the query firehose served online.

    Frozen state makes every query's top-k independent of its batch;
    a re-delivered file contributes zero via the already-served skip
    on query_id."""
    from etl_mp_transactions_spark.operators.ivfpq_train import (
        rerank_exact,
    )
    from etl_mp_transactions_spark.operators.pq import _quantized

    results = BatchLedger(
        spark, out_dir, "query_id long, vec_id long, exact_d2 long, rank long"
    )

    # the exact-rerank side is FROZEN across the stream: materialize
    # the quantized corpus once per run (lazy localCheckpoint — first
    # micro-batch pays it, the rest read it) instead of re-running the
    # parquet scan + quantize per batch (the r23 corpus-side pattern)
    vectors = vectors.localCheckpoint(eager=False)

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        qset = _quantized(batch_df, "vec_id").select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
        )
        fresh = qset.join(
            results.except_(batch_id).select("query_id").distinct(),
            "query_id",
            "left_anti",
        )
        results.write(
            batch_id, rerank_exact(fresh, cb, pb, codes, vectors, k_neighbors)
        )

    drain_files(
        spark, src_dir, SCHEMAS["embeddings"], serve_batch, checkpoint_dir
    )
    return results.all()


def stream_delete_tombstones_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    tomb_dir: str,
) -> DataFrame:
    """Streaming DELETE ingestion (R22): arriving tombstone-id
    batches append to a batch-partitioned parquet tombstone table —
    the delete half of the index-maintenance lifecycle
    (queries/ivfpq_train_q.ivfpq_delete_serve consumes the final
    set). Deletes are doubly replay-safe: a re-delivered file
    contributes zero rows via the already-tombstoned skip, and even a
    duplicate that slipped through would be erased by the
    ``distinct()`` read (tombstones are a set union; deletes are
    idempotent by nature)."""
    tombs = BatchLedger(spark, tomb_dir, "vec_id long")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        tombs.write(
            batch_id,
            batch_df.select("vec_id").join(
                tombs.except_(batch_id), "vec_id", "left_anti"
            ),
        )

    drain_files(spark, src_dir, "vec_id long", apply_batch, checkpoint_dir)
    return tombs.all().distinct()


def stream_hybrid_serving_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    sf_dir: str,
) -> DataFrame:
    """Streaming HYBRID search serving (R23): arriving QUERY batches
    (embeddings rows) are served against the frozen corpus — lexical
    BM25 arm from the query doc's terms, exact quantized-L2 semantic
    arm from the arriving vector, RRF-fused top-10 — appending to a
    batch-partitioned result table (queries/hybrid.py is the batch
    twin; same oracle).

    Per-query results are batch-independent (BM25 df is per-term,
    corpus stats are global, fusion sees only that query's two arm
    lists); a re-delivered file contributes zero via the
    already-served skip on query_id."""
    from etl_mp_transactions_spark.operators.pq import _quantized
    from etl_mp_transactions_spark.queries.hybrid import (
        _fused,
        _tokens_expr,
    )
    from etl_mp_transactions_spark.sources.tables import load_table

    results = BatchLedger(
        spark,
        out_dir,
        "query_id long, doc_id long, r_lex long, r_sem long,"
        " rrf_nano long, fused_rank long",
    )

    # Corpus-side state is FROZEN across the stream: tokenize the
    # document corpus and quantize the embedding corpus ONCE per run
    # (lazy localCheckpoint — materialized by the first micro-batch,
    # served to the rest) instead of re-running both corpus scans in
    # every micro-batch. Within-one-declared-query reuse only; the
    # arriving-query work (qterms, tf band, d2 scan, fusion) stays
    # fully per-batch.
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", _tokens_expr().alias("l"))
        .localCheckpoint(eager=False)
    )
    corpus_qv = _quantized(
        load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).localCheckpoint(eager=False)

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        qset = _quantized(batch_df, "vec_id").select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
        )
        fresh = qset.join(
            results.except_(batch_id).select("query_id").distinct(),
            "query_id",
            "left_anti",
        )
        qids = fresh.select(F.col("query_id").alias("doc_id"))
        results.write(
            batch_id,
            _fused(
                spark, sf_dir, qids=qids, qset=fresh, toks=toks, qv=corpus_qv
            ).select(
                "query_id", "doc_id", "r_lex", "r_sem", "rrf_nano",
                "fused_rank",
            ),
        )

    drain_files(
        spark, src_dir, SCHEMAS["embeddings"], serve_batch, checkpoint_dir
    )
    return results.all()


def stream_scene_cuts_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
) -> DataFrame:
    """Streaming video scene-cut detection (R24): document batches
    arrive, their video assets are segmented per micro-batch
    (queries/video.scenes_from_docs — scene detection reads only the
    asset's own bytes, so any row subset computes independently), and
    scene rows land in a batch-partitioned table. Per-asset results
    are batch-independent by definition; a re-delivered file
    contributes zero via the already-served skip on asset_id."""
    from etl_mp_transactions_spark.queries.video import scenes_from_docs

    scenes = BatchLedger(
        spark,
        out_dir,
        "asset_id long, scene_id long, start_frame long,"
        " n_frames long, intra_max_diff long",
    )

    def serve_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.join(
            scenes.except_(batch_id)
            .select("asset_id")
            .distinct()
            .withColumnRenamed("asset_id", "doc_id"),
            "doc_id",
            "left_anti",
        )
        sc = scenes_from_docs(fresh)
        out = sc.groupBy("asset_id", "scene_id").agg(
            F.min("frame_idx").cast("long").alias("start_frame"),
            F.count("*").cast("long").alias("n_frames"),
            F.coalesce(
                F.max(
                    F.when(F.col("cut") == 1, None).otherwise(
                        F.col("diff")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("intra_max_diff"),
        )
        scenes.write(batch_id, out)

    drain_files(
        spark, src_dir, SCHEMAS["documents"], serve_batch, checkpoint_dir
    )
    return scenes.all()


def stream_graph_insert_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    base_emb: DataFrame,
    books,
) -> DataFrame:
    """Streaming IVF-graph maintenance (R25): arriving embedding
    batches maintain the IVF-seeded kNN graph against FROZEN coarse
    books (queries/graphann.py) — the online twin of the batch
    ``graph_ann_incremental_insert`` identity, and the maintenance
    loop a deployed graph index actually runs.

    State layout makes the stream==batch identity EXACT: the graph is
    stored as per-batch IMMUTABLE top-8 edge FRAGMENTS, never mutated
    in place — batch b writes (a) the new nodes' top-8 over everything
    seen so far including the batch itself, and (b) every existing
    node's top-8 AMONG THIS BATCH's members of its probed lists (≤ deg
    rows per node per batch, bucket-bounded work). Since the global
    top-8 of a union equals the top-8 of the per-part top-8s, the
    final per-src re-rank over base fragment ∪ all batch fragments is
    EXACTLY the frozen-books rebuild over the full corpus — the same
    DuckDB oracle as the batch query.

    Three ledgers hold the state: members, their probe-list
    assignments, and edge fragments (the base fragment under
    ``batch=-1``). Prior members and prior probes both come from disk,
    so a batch re-executed after a restart sees the same prior set as
    its first attempt. A re-delivered file contributes zero via the
    already-a-member anti-join.
    """
    from pyspark.sql import Window

    from etl_mp_transactions_spark.queries.graphann import (
        _DEG,
        _GANN_NPROBE,
        _probes_df,
        ivf_knn_topk,
    )

    members = BatchLedger(
        spark,
        os.path.join(state_dir, "members"),
        "vec_id long, embedding array<float>, label int",
    )
    probes = BatchLedger(
        spark,
        os.path.join(state_dir, "probes"),
        "vec_id long, c int, pr int, qv array<int>",
    )
    edges = BatchLedger(
        spark, os.path.join(state_dir, "edges"), "src long, dst long, d2 long"
    )
    # The coarse books are FROZEN for the run, so every slice's list
    # assignment is batch-invariant: assign the base slice ONCE per
    # run and each arriving batch once on arrival (kept in the probes
    # ledger), instead of re-scanning and re-assigning the whole seen
    # corpus on both sides of every micro-batch's two builds.
    base_probes = _probes_df(
        base_emb, books, _GANN_NPROBE
    ).localCheckpoint(eager=False)
    # base fragment: the frozen-books self-build over the base slice
    # (fresh per call — no cross-query graph memo, VERDICT r15 #2)
    edges.write(
        -1, ivf_knn_topk(base_emb, base_emb, books, q_probes=base_probes)
    )

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        prior = members.except_(batch_id)
        members.write(
            batch_id,
            batch_df.select("vec_id", "embedding", "label").join(
                prior.select("vec_id"), "vec_id", "left_anti"
            ),
        )
        fresh = members.read(batch_id)
        probes.write(batch_id, _probes_df(fresh, books, _GANN_NPROBE))
        fresh_probes = probes.read(batch_id)
        prior_probes = base_probes.unionByName(probes.except_(batch_id))
        existing = base_emb.select(
            "vec_id", "embedding", "label"
        ).unionByName(prior)
        corpus_now = existing.unionByName(fresh)
        frag = ivf_knn_topk(
            fresh,
            corpus_now,
            books,
            q_probes=fresh_probes,
            m_probes=prior_probes.unionByName(fresh_probes),
        ).unionByName(
            ivf_knn_topk(
                existing,
                fresh,
                books,
                q_probes=prior_probes,
                m_probes=fresh_probes,
            )
        )
        edges.write(batch_id, frag)

    drain_files(
        spark, src_dir, SCHEMAS["embeddings"], maintain, checkpoint_dir
    )
    w = Window.partitionBy("src").orderBy("d2", "dst")
    return (
        edges.all()
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _DEG)
        .select("src", "dst", "rnk")
    )


def stream_graph_delete_run(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    emb: DataFrame,
    books,
) -> DataFrame:
    """Streaming graph-index DELETE maintenance (R26, 21st
    stream==batch pin): tombstone batches repair the IVF-seeded kNN
    graph against FROZEN coarse books — the online twin of the batch
    ``graph_ann_delete_repair`` identity (queries/graphann.py).

    State = two ledgers: (a) tombstones (set union — idempotent by
    nature, the r22 construction: a replayed file's ids anti-join to
    nothing), and (b) repair FRAGMENTS: batch b writes the full
    post-repair top-8 rows for exactly the nodes whose CURRENT edges
    hit this batch's NEW tombstones, computed against the
    survivors-so-far (the base build is the ``batch=-1`` fragment).
    The current view is latest-fragment-per-src over all fragments
    minus tombstoned srcs; by the batch query's pass-through argument
    (an unaffected node's candidates only shrank and its whole top-8
    survived), the view after every batch equals the frozen-books
    rebuild over the survivors — inductively, so the FINAL view
    equals batch ``graph_ann_delete_repair`` bit for bit: the same
    DuckDB oracle. A re-delivered file's tombstones are already
    recorded, so its new-tombstone set is empty, no node is affected,
    and its fragment is empty."""
    from pyspark.sql import Window

    from etl_mp_transactions_spark.queries.graphann import (
        _GANN_NPROBE,
        _probes_df,
        ivf_knn_topk,
    )

    tombs = BatchLedger(spark, os.path.join(state_dir, "tombs"), "vec_id long")
    frags = BatchLedger(
        spark,
        os.path.join(state_dir, "frags"),
        "src long, dst long, d2 long, bid long",
    )
    emb = emb.localCheckpoint(eager=True)
    # frozen books ⇒ the full-corpus list assignment is run-invariant
    # and tombstoning only SHRINKS it: assign once per run, and each
    # batch's survivor/affected probe frames are anti-/semi-joins on
    # this frame instead of full re-scan+re-assign passes per batch
    corpus_probes = _probes_df(
        emb, books, _GANN_NPROBE
    ).localCheckpoint(eager=False)
    frags.write(
        -1,
        ivf_knn_topk(emb, emb, books, q_probes=corpus_probes).select(
            "src", "dst", "d2", F.lit(-1).cast("long").alias("bid")
        ),
    )

    def _view(frags: DataFrame, tombs: DataFrame) -> DataFrame:
        # latest fragment per src, minus tombstoned srcs AND dsts.
        # The dst filter matters for the empty-repair edge case: an
        # affected node with NO surviving candidates writes an empty
        # fragment, so latest-per-src falls back to its older rows —
        # but all of those are tombstoned dsts (a surviving old edge
        # is always still a candidate), so the dst anti-join removes
        # exactly them and the view stays == rebuild.
        wl = Window.partitionBy("src").orderBy(F.col("bid").desc())
        return (
            frags.withColumn("mb", F.max("bid").over(wl))
            .filter(F.col("bid") == F.col("mb"))
            .join(
                tombs.withColumnRenamed("vec_id", "src"),
                "src",
                "left_anti",
            )
            .join(
                tombs.withColumnRenamed("vec_id", "dst"),
                "dst",
                "left_anti",
            )
            .select("src", "dst", "d2")
        )

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        prior_tombs = tombs.except_(batch_id)
        tombs.write(
            batch_id,
            batch_df.select("vec_id").join(prior_tombs, "vec_id", "left_anti"),
        )
        fresh = tombs.read(batch_id)
        all_tombs = prior_tombs.unionByName(fresh)
        # affected detection reads the view BEFORE this batch's
        # tombstones take effect — the all-tombs view would have
        # already dst-filtered away exactly the edges that prove a
        # node needs repair. Srcs tombstoned in this batch are
        # excluded (they leave the graph, no repair). The view skips
        # this batch's own fragment: on re-execution an already-
        # repaired fragment would mask the pre-batch edges, detection
        # would find nothing, and the repair would be overwritten
        # EMPTY (ADVICE r14 medium).
        view = _view(frags.except_(batch_id), prior_tombs)
        affected = (
            view.join(
                fresh.withColumnRenamed("vec_id", "dst"), "dst"
            )
            .select("src")
            .distinct()
            .join(
                fresh.withColumnRenamed("vec_id", "src"),
                "src",
                "left_anti",
            )
        )
        survivors = emb.join(all_tombs, "vec_id", "left_anti")
        aff_emb = survivors.join(
            affected.withColumnRenamed("src", "vec_id"),
            "vec_id",
            "semi",
        )
        surv_probes = corpus_probes.join(
            all_tombs, "vec_id", "left_anti"
        )
        aff_probes = surv_probes.join(
            affected.withColumnRenamed("src", "vec_id"),
            "vec_id",
            "semi",
        )
        frag = ivf_knn_topk(
            aff_emb,
            survivors,
            books,
            q_probes=aff_probes,
            m_probes=surv_probes,
        ).select(
            "src",
            "dst",
            "d2",
            F.lit(batch_id).cast("long").alias("bid"),
        )
        frags.write(batch_id, frag)

    drain_files(spark, src_dir, "vec_id long", maintain, checkpoint_dir)
    w = Window.partitionBy("src").orderBy("d2", "dst")
    return _view(frags.all(), tombs.all()).withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).select("src", "dst", "d2", "rnk")
