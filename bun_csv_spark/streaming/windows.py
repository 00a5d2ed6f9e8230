"""Structured Streaming windows over event tables.

The reference has no streaming operators (SURVEY §2.9 — its "streaming" is
incremental consumption of a static file). This module is the extension
surface: watermarked tumbling/sliding/session windows over an event stream,
exercised in tests by replaying the static events parquet through
``readStream``.

The batch/stream duality is deliberate: ``tumbling_counts`` builds the same
logical plan for a static DataFrame and a streaming one, so the DuckDB
oracle for the batch result also validates the streaming result.
"""

from __future__ import annotations

import contextlib
import uuid

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# `spark.sql.shuffle.partitions` and the state-store provider are
# session-global: two overlapping drains pinning different values would
# observe each other's value and a racy interleave could restore the wrong
# one. The lock serializes PINNED drains only (a drain whose pin is None
# never takes it), so an unpinned drain that overlaps a pinned one can
# still plan against the pinned drain's temporary values; callers that mix
# the two on one session must not overlap them.
# RLock: the provider pin nests inside the partition pin on one thread.
_PIN_LOCK = threading.RLock()


def _stream_state_partitions(
    spark: SparkSession, parquet_path: str, override: "int | None" = None
) -> "int | None":
    """Derive a stream's state-partition count from the SOURCE SIZE.

    ``spark.sql.shuffle.partitions`` at first-batch time pins the number
    of state-store instances for the life of a streaming checkpoint, and
    every stateful operator pays per-store per-batch costs (delta-file
    commit, snapshot maintenance, the no-data finalize batch) that are
    INDEPENDENT of the rows in the store. A symmetric hash join keeps 4
    stores per partition, so this session's core-count default (32)
    meant 128 stores for kilobytes of state: the r18 measurement on the
    sf0.1 replay gates had commitTimeMs ≈ 64-88 s cumulative per batch
    against an addBatch wall of ~5 s — pure bookkeeping. A/B at sf0.1
    (rows identical): streaming_join 21.3 -> 4.3 s, streaming_watermark
    13.2 -> 4.0 s, streaming_kmv 7.1 -> 3.7 s, streaming_dedup
    6.1 -> 2.2 s at 8 partitions (guide §2.2 "fewer, larger reduce
    partitions" — AQE cannot coalesce stateful-stream exchanges, so the
    sizing must happen here).

    Rule: ceil(source_bytes / 32 MB), floor 8, capped at the session's
    defaultParallelism — i.e. small bounded replays get few stores, and
    above ~cores x 32 MB of source this returns the core count: exactly
    today's default, so cluster-scale behavior is unchanged. Callers
    size real deployments explicitly via ``state_partitions=`` (the
    count is pinned at checkpoint creation and must be chosen for PEAK
    state volume, which no source-size heuristic can know). Returns
    None (leave the session conf alone) when the source size cannot be
    statted."""
    if override is not None:
        return max(1, int(override))
    import os

    try:
        if os.path.isdir(parquet_path):
            total = 0
            for root, dirs, files in os.walk(parquet_path):
                # writer artifacts (_SUCCESS, .crc, _spark_metadata) are not
                # stream data — don't let them inflate the size estimate
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    total += os.path.getsize(os.path.join(root, f))
        else:
            total = os.path.getsize(parquet_path)
    except OSError:
        return None
    par = spark.sparkContext.defaultParallelism
    return min(max(8, -(-total // (32 * 1024 * 1024))), max(par, 8))


@contextlib.contextmanager
def _pinned_shuffle_partitions(spark: SparkSession, n: "int | None"):
    """Set ``spark.sql.shuffle.partitions`` for the duration of a stream
    drain (micro-batches plan against the live session conf), restoring
    the caller's value after. No-op when ``n`` is None."""
    if n is None:
        yield
        return
    with _PIN_LOCK:
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


@contextlib.contextmanager
def _pinned_state_store_provider(spark: SparkSession, provider: "str | None"):
    """Scoped pin of ``spark.sql.streaming.stateStore.providerClass`` for
    one drain (the conf is read at query start and frozen into the
    checkpoint). No-op when ``provider`` is None — the r19 A/B measured
    RocksDB on the bounded sf0.1 replays at PARITY on the join/watermark
    gates (4.01 -> 3.91 / 3.74 -> 3.57 s) and WORSE on the small-state
    ones (session 1.30 -> 1.53, hll 1.90 -> 3.36 s: native store setup +
    SST churn dwarfs the tiny per-batch deltas), so the HDFS-backed
    default stands; deployments with large live-key state opt in with
    ``state_store_provider="rocksdb"`` (alias) or a full provider class
    name, where changed-key-only snapshots pay off."""
    if provider is None:
        yield
        return
    if provider == "rocksdb":
        provider = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    key = "spark.sql.streaming.stateStore.providerClass"
    with _PIN_LOCK:
        old = spark.conf.get(key, None)
        spark.conf.set(key, provider)
        try:
            yield
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def tumbling_counts(
    events: DataFrame,
    duration: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window count + value sum per key.

    Output: (window_start string, {key_col}, n_events, sum_value) — the
    window boundary is formatted to a wall-clock string so results compare
    bit-for-bit across session timezones and against the oracle."""
    from pyspark.sql import types as T

    src = events
    # Watermarks only accept TIMESTAMP (LTZ); NTZ event time goes through a
    # wall-clock-preserving cast. The cast+format round trip is session-tz
    # consistent (same tz both directions), so output strings still match
    # the batch NTZ plan except for nonexistent local times at a DST gap.
    if isinstance(events.schema[ts_col].dataType, T.TimestampNTZType):
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if watermark is not None and events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), duration)
    return (
        src.groupBy(win, F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.col(key_col),
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Sliding-window variant: each event lands in duration/slide windows."""
    win = F.window(F.col(ts_col), duration, slide)
    return (
        events.groupBy(win, F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            F.col(key_col),
            "n_events",
        )
    )


def _check_state_timeout(timeout: str, ttl_ms: "int | None") -> None:
    """Shared guard for the stateful ops below. EventTimeTimeout is
    rejected (neither op sets a timeout timestamp, which Spark requires —
    passing it through would fail at runtime or, worse, never expire);
    ProcessingTimeTimeout requires a ttl so the re-arm below has a
    duration to set."""
    if timeout not in ("NoTimeout", "ProcessingTimeTimeout"):
        raise ValueError(
            f"unsupported timeout {timeout!r}: use 'NoTimeout' or "
            "'ProcessingTimeTimeout' (EventTimeTimeout needs a per-key "
            "timeout timestamp these operators do not define)"
        )
    if timeout == "ProcessingTimeTimeout" and not ttl_ms:
        raise ValueError("ProcessingTimeTimeout requires ttl_ms > 0")


def stateful_user_counts(
    events: DataFrame,
    user_col: str = "user_id",
    value_col: str = "value",
    timeout: str = "NoTimeout",
    ttl_ms: "int | None" = None,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count + value sum carried across micro-batches.

    This is the pattern for operators Spark's windowed aggs can't express
    (custom session logic, decaying counters, CEP-ish state machines):
    state lives in the state store, keyed by user, bounded by the key
    cardinality — executors scale it horizontally. With
    ``timeout="ProcessingTimeTimeout"`` + ``ttl_ms``, a key idle for the
    ttl has its state dropped (hasTimedOut branch) and the timeout is
    re-armed on every update — the state store stays bounded by LIVE
    keys, not all keys ever seen."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    _check_state_timeout(timeout, ttl_ms)
    out_schema = f"{user_col} long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        if timeout == "ProcessingTimeTimeout":
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {user_col: [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return events.groupBy(user_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def streaming_kmv_state(
    events: DataFrame,
    key_col: str,
    value_col: str,
    k: int = 64,
    salt: str = "kmv",
    timeout: str = "NoTimeout",
    ttl_ms: "int | None" = None,
) -> DataFrame:
    """Per-key KMV bottom-k as a CUSTOM STATEFUL streaming operator —
    the set-algebra sketch (sketches.kmv_state_by) maintained live over
    a stream. Bottom-k is not a windowed aggregate (it needs a per-key
    rank), so unlike streaming_hll's register max-merge it cannot ride
    Spark's built-in aggs; applyInPandasWithState keys the state store
    on ``key_col`` with <=k sorted longs per key. Because the hashes are
    deterministic md5 (computed JVM-side before the stateful op) and
    bottom-k union-merge is order- and batching-free, the streamed state
    after ANY micro-batch split equals the batch ``kmv_state_by`` over
    the same prefix EXACTLY — tested across a 3-batch replay.

    Emits one row per key per micro-batch: (key, hs array<long>,
    version) where version counts that key's updates — consumers of an
    update-mode sink keep each key's max-version row. State per key is
    O(k); at 100 TB/day the store scales with live keys x k longs —
    and with ``timeout="ProcessingTimeTimeout"`` + ``ttl_ms``, with
    LIVE keys only: an idle key's bottom-k is dropped on timeout
    (hasTimedOut branch) and the ttl re-arms on every update."""
    import pandas as pd

    from bun_csv_spark.functions.sketches import md5_uniform_long

    _check_state_timeout(timeout, ttl_ms)
    ktype = events.schema[key_col].dataType.simpleString()
    hashed = events.select(
        F.col(key_col), md5_uniform_long(value_col, salt).alias("__h")
    ).filter(F.col("__h").isNotNull())
    out_schema = f"{key_col} {ktype}, hs array<long>, version long"
    state_schema = "hs array<long>, v long"

    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            prev, v = state.get
            cur = set(int(x) for x in prev)
        else:
            cur, v = set(), 0
        for pdf in pdfs:
            cur.update(int(x) for x in pdf["__h"])
        best = sorted(cur)[:k]
        v += 1
        state.update((best, v))
        if timeout == "ProcessingTimeTimeout":
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({key_col: [key[0]], "hs": [best], "version": [v]})

    return hashed.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop duplicate keys arriving within the
    watermark delay (dropDuplicatesWithinWatermark). State holds one entry
    per key only until the watermark passes — bounded state, unlike a
    global dropDuplicates over an unbounded stream."""
    from pyspark.sql import types as T

    src = events
    if isinstance(events.schema[ts_col].dataType, T.TimestampNTZType):
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark(ts_col, delay)
        return src.dropDuplicatesWithinWatermark(keys)
    return src.dropDuplicates(keys)


def stage_phased_replay(
    df: DataFrame, phases: list[tuple[str, "F.Column"]], out_dir: str
) -> str:
    """Write a DataFrame as an ordered sequence of parquet 'arrival phase'
    files for FileStreamSource replay: phase i becomes one file whose
    mtime orders it i-th, so ``maxFilesPerTrigger=1`` replays each phase
    as its OWN micro-batch. This is the deterministic late-data harness —
    the watermark advances between batches exactly where the phase
    predicates put it, so an engine-replaying oracle can restate the drop
    decision row by row. ``phases`` = [(name, filter Column)]; phases
    should partition the input (rows matching no phase are silently
    absent from the replay).

    Test-harness shape: each phase coalesces to one file (the replay is
    sf-bounded by construction); production late-data handling needs no
    staging — real sources arrive in real order."""
    import glob
    import os
    import shutil

    for i, (name, cond) in enumerate(phases):
        build = os.path.join(out_dir, f"__build_{name}")
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(build)
        part = glob.glob(os.path.join(build, "part-*.parquet"))[0]
        dst = os.path.join(out_dir, f"{i:02d}_{name}.parquet")
        shutil.move(part, dst)
        # distinct ascending mtimes pin the FileStreamSource batch order
        os.utime(dst, (1_000_000_000 + i * 3600, 1_000_000_000 + i * 3600))
        shutil.rmtree(build)
    return out_dir


def run_stream_to_table(
    spark: SparkSession,
    parquet_path: str,
    transform,
    output_mode: str = "complete",
    normalize_ts: bool = False,
    max_files_per_trigger: int | None = None,
    state_partitions: int | None = None,
    state_store_provider: str | None = None,
) -> DataFrame:
    """Replay a static parquet file through readStream, apply ``transform``
    (DataFrame -> DataFrame), drain synchronously into an in-memory table,
    and return the result as a static DataFrame.

    This runs the REAL streaming engine (micro-batches, state store); the
    parquet file is just a bounded source, so processAllAvailable()
    terminates. The in-memory sink materializes the RESULT table on the
    driver — bounded by the aggregate-state / output size (live keys ×
    windows), never the input stream; it is a test/gate harness, and a
    production job would point writeStream at parquet/kafka instead."""
    import os
    import tempfile

    from pyspark.sql import types as T

    batch = spark.read.parquet(parquet_path)
    schema = batch.schema
    if os.path.isfile(parquet_path):
        # FileStreamSource wants a directory; replay a single file by
        # symlinking it into a scratch dir
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(parquet_path, os.path.join(d, os.path.basename(parquet_path)))
        parquet_path = d
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # AvailableNow honors maxFilesPerTrigger, so an N-file source dir
        # replays as N micro-batches (see stage_phased_replay)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(parquet_path)
    if normalize_ts:
        # the events replay contract is epoch-nanos `ts` (see
        # sources/events.py) — normalize so transforms hold across
        # parquet ts encodings (nanos-long vs millis/micros-long vs
        # micros-timestamp files). A long column's epoch unit needs a data
        # probe, which streaming plans forbid, so probe the BATCH read of
        # the same path and hand the factor to the streaming projection.
        from bun_csv_spark.sources.events import ensure_ts_nanos, long_ts_factor

        lf = (
            long_ts_factor(batch, "ts")
            if "ts" in batch.columns
            and isinstance(batch.schema["ts"].dataType, T.LongType)
            else None
        )
        stream = ensure_ts_nanos(stream, long_factor=lf)
    out = transform(stream)
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    parts = _stream_state_partitions(spark, parquet_path, state_partitions)
    with _pinned_shuffle_partitions(spark, parts), \
            _pinned_state_store_provider(spark, state_store_provider):
        q = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(name)


def run_stream_polling(
    spark: SparkSession,
    parquet_path: str,
    transform,
    done,
    output_mode: str = "update",
    max_files_per_trigger: int | None = None,
    timeout_s: float = 120.0,
    state_partitions: int | None = None,
    state_store_provider: str | None = None,
) -> DataFrame:
    """Drain variant for stateful transforms carrying
    ``ProcessingTimeTimeout``: with processing-time timers in play the
    engine treats 'another batch may be required' as permanently true
    (it cannot know no future timer will fire), so an AvailableNow
    query never self-terminates and ``processAllAvailable`` never sees
    the no-new-data condition — both drains in ``run_stream_to_table``
    block forever. Here the query runs on the default micro-batch
    trigger and the MEMORY SINK is polled: ``done(df) -> bool`` decides
    when the expected output has landed, then the query is stopped.
    Raises TimeoutError if ``done`` never holds within ``timeout_s``."""
    import time as _time
    import uuid as _uuid

    batch = spark.read.parquet(parquet_path)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(parquet_path)
    out = transform(stream)
    name = f"stream_poll_{_uuid.uuid4().hex[:8]}"
    parts = _stream_state_partitions(spark, parquet_path, state_partitions)
    with _pinned_shuffle_partitions(spark, parts), \
            _pinned_state_store_provider(spark, state_store_provider):
        q = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            deadline = _time.time() + timeout_s
            while not done(spark.table(name)):
                if not q.isActive:
                    # a dead query can never satisfy done() — surface its
                    # real failure now instead of a blind TimeoutError
                    err = q.exception()
                    if err is not None:
                        raise err
                    raise RuntimeError("streaming query terminated before the sink condition was met")
                if _time.time() > deadline:
                    raise TimeoutError(f"sink condition not met in {timeout_s}s")
                _time.sleep(0.5)
        finally:
            q.stop()
    return spark.table(name)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INNER join: each left event pairs with
    the right events sharing its key whose timestamp falls in
    ``[left.ts - lookback, left.ts]``.

    Both sides carry a watermark and the join condition is a time-range
    over the watermarked event-time columns — exactly what Structured
    Streaming needs to BOUND the join state (without the range, both
    sides buffer forever). State per key ≈ events inside
    watermark + lookback; append output mode. The same plan works on
    static frames, so a batch SQL oracle validates the streaming run.

    Returns all left columns (aliased side 'l') joined to right ('r');
    callers project/rename."""
    from pyspark.sql import types as T

    def prep(df):
        if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        if df.isStreaming:
            df = df.withWatermark(ts_col, watermark)
        return df

    l, r = prep(left).alias("l"), prep(right).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}"))
    )
    return l.join(r, cond, "inner")


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: join a stream against a STATIC
    dimension table — stateless (no watermark needed; the static side is
    re-read per micro-batch, so slowly-changing dims pick up updates at
    batch boundaries). The standard 'attach user/product attributes to an
    event stream' shape; Catalyst broadcasts the dim side under the
    session threshold exactly as in batch."""
    return stream.join(dim, on, how)


def run_stream_checkpointed(
    spark: SparkSession,
    parquet_dir: str,
    transform,
    checkpoint_dir: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    state_store_provider: str | None = None,
) -> "list":
    """One availableNow pass over whatever files are in ``parquet_dir``
    RIGHT NOW, carrying aggregation state across CALLS through the
    checkpoint — the scheduled-incremental-job pattern (a cron'd
    availableNow run is Databricks' own recommendation for periodic
    ingestion). Each call processes only files the checkpoint's source
    log hasn't seen, restores operator state, and returns the final
    complete-mode snapshot as a list of Rows (via foreachBatch — the
    memory sink does not support checkpoint recovery, foreachBatch
    does, keyed by batch id).

    Scale notes: state lives in the checkpoint's state store, sized by
    the aggregation keys, not by history; re-running after a crash
    re-emits the last batch id to the sink, so downstream writes must
    key on (batch_id) for idempotence — exactly what this helper's
    snapshot-replace semantics model. The foreachBatch ``collect()``
    below is bounded by the AGGREGATE-STATE size (one row per live
    aggregation key in complete mode), never by the input stream — the
    same documented-bound standard as ``append_csv_file`` /
    ``EditLog.get_cell``; a production job would write ``batch_df`` to a
    table instead of collecting."""
    schema = spark.read.parquet(parquet_dir).schema
    stream = spark.readStream.schema(schema).parquet(parquet_dir)
    out = transform(stream)
    snapshot: dict = {}

    def sink(batch_df, batch_id):
        snapshot["rows"] = batch_df.collect()
        snapshot["batch_id"] = batch_id

    # the partition count only binds on the checkpoint's FIRST commit
    # (stateful queries resume with the checkpoint's own count); the
    # derivation is still applied so fresh checkpoints size sensibly
    parts = _stream_state_partitions(spark, parquet_dir, state_partitions)
    with _pinned_shuffle_partitions(spark, parts), \
            _pinned_state_store_provider(spark, state_store_provider):
        q = (
            out.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            if q.isActive:
                q.stop()
    return snapshot.get("rows", [])
