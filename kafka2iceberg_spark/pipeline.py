"""End-to-end streaming job wiring (reference Kafka2IcebergApp.main analogue,
Kafka2IcebergApp.java:39-118 — re-expressed as Structured Streaming).

Source → parse → sink, plus the [NORTH] windowed/stateful branches:

  source   Kafka when a broker is configured AND the connector jar is on the
           classpath; otherwise a simulated broker: a file stream of
           Canal-JSON envelope lines carrying _offset/_partition metadata
           (gen.py). Both yield the same (value, offset, partition) shape.
  parse    ingest.parse — P1-P15, shared batch/streaming.
  sink     foreachBatch → IcebergLite.commit_upsert (exactly-once: Spark
           checkpoint WAL for offsets + batch-id idempotence in the table's
           snapshot log; a replayed micro-batch after crash-recovery is
           detected and skipped — K2/K3).
  windows  session/tumbling branches with watermarks (windows.py).
  state    paired-turns stateful join branch (state.py).

Checkpoint recovery (north_rule): restart with the same checkpointLocation →
Structured Streaming replays the last uncommitted micro-batch; the sink's
batch-id guard makes the replay a no-op if it had already committed —
zero duplicate rows (tested in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import ingest
from .config import TaskSpec
from .sink import IcebergLite

ENVELOPE_LINE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


def file_broker_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Simulated Kafka: JSON-line envelope files as a rate-limited stream.

    text format keeps the envelope opaque (exactly Kafka's value bytes);
    maxFilesPerTrigger bounds micro-batch size like maxOffsetsPerTrigger.
    """
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(dir_path)
        .select(F.col("value"))
    )


#: Columns the ingest layer consumes from the Kafka source (value bytes plus
#: the two metadata columns that become offset/partition_idx, P12/P13).
KAFKA_SELECT_COLS = ["value", "offset", "partition"]


def fanin_broker_stream(
    spark: SparkSession,
    dirs: list[str],
    max_files_per_trigger: int = 1,
    stride: int | None = None,
) -> DataFrame:
    """Multi-topic FAN-IN over the file-simulated broker: N topic dirs →
    ONE Kafka-shaped stream (value/offset/partition columns, consumed via
    ``parse(..., offset_col='offset', partition_col='partition')``).

    Mirrors the multi-topic ``kafka_stream`` path: every topic's envelope
    partition ids are lifted into a disjoint range (topic_rank * stride +
    partition, rank from the SORTED dir list — stable across restarts; the
    dir SET is part of the checkpoint contract, see
    ``namespace_topic_partitions``), so the (partition, offset) dedup key
    (K3), per-partition lineage, and the replay guard stay per-topic sound
    while ONE query / ONE checkpoint / ONE exactly-once commit path serves
    all topics. The reference runs one
    Flink job per topic (Kafka2IcebergApp.java:60-64 subscribes a single
    topic) — N jobs racing commits when topics share a sink table.
    """
    if not dirs:
        raise ValueError("fanin_broker_stream needs at least one dir")
    stride = FANIN_PARTITION_STRIDE if stride is None else stride
    out = None
    for rank, d in enumerate(sorted(dirs)):
        s = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(d)
            .select(
                F.col("value"),
                F.get_json_object("value", "$._offset")
                .cast("long")
                .alias("offset"),
                (
                    _guard_stride(
                        F.get_json_object("value", "$._partition").cast(
                            "int"
                        ),
                        stride,
                    )
                    + F.lit(rank * stride)
                ).alias("partition"),
            )
        )
        out = s if out is None else out.unionByName(s)
    return out


def kafka_reader_options(
    bootstrap: str, topics: str, starting: str = "earliest"
) -> dict[str, str]:
    """Reader options for the real Kafka source (S1) — the Spark analogue of
    KafkaUtils.getKafkaSource (KafkaUtils.java:20-41: bootstrap servers,
    topic subscription, earliest offsets). Pure function so the contract is
    testable without the spark-sql-kafka jar."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topics,
        "startingOffsets": starting,
    }


#: Per-topic partition-id stride for multi-topic fan-in. Kafka partition
#: numbers restart at 0 in EVERY topic, so a job subscribed to several
#: topics would collide distinct (topic-a,0,offset) / (topic-b,0,offset)
#: records in the (partition, offset) dedup key (K3), the lineage ranges,
#: and the replay guard. Namespacing partition_idx = topic_rank * stride +
#: partition keeps all three disjoint per topic with no schema change.
FANIN_PARTITION_STRIDE = 1024


def namespace_topic_partitions(
    df: DataFrame,
    topics: list[str],
    topic_col: str = "topic",
    stride: int = FANIN_PARTITION_STRIDE,
) -> DataFrame:
    """Rewrite ``partition`` to a per-topic disjoint id space (see
    FANIN_PARTITION_STRIDE). Topic ranks come from the SORTED topic list —
    stable across restarts regardless of subscribe-string order. The topic
    SET itself is part of the checkpoint contract: adding or removing a
    topic renumbers the other topics' ranks, so a set change requires a
    fresh checkpoint + sink table (exactly like changing a Kafka
    subscription pattern under a Spark checkpoint). Pure column logic (a
    literal map lookup), usable on batch or streaming; partitions >=
    stride raise rather than silently colliding across namespaces."""
    ranks: list = []
    for i, t in enumerate(sorted(topics)):
        ranks += [F.lit(t), F.lit(i)]
    rank = F.element_at(F.create_map(*ranks), F.col(topic_col))
    return df.withColumn(
        "partition",
        (rank * stride + _guard_stride(F.col("partition"), stride)).cast(
            "int"
        ),
    ).drop(topic_col)


def _guard_stride(partition: Column, stride: int) -> Column:
    """Fail LOUDLY if a topic has >= stride partitions: id spaces would
    overlap across topics and the (partition, offset) dedup key would
    silently drop distinct records — the one failure mode the namespacing
    exists to prevent. Codegen'd raise_error, zero cost on the good path."""
    return F.when(
        partition >= F.lit(stride),
        F.raise_error(
            F.concat(
                F.lit(
                    f"fan-in partition >= stride ({stride}): raise "
                    "fanin.partition-stride above the largest topic's "
                    "partition count; got partition "
                ),
                partition.cast("string"),
            )
        ).cast("int"),
    ).otherwise(partition)


def kafka_stream(
    spark: SparkSession, bootstrap: str, topics: str, starting: str = "earliest"
) -> DataFrame:
    """Real Kafka source (S1) — requires spark-sql-kafka on the classpath.
    Fails fast with install guidance when the jar is absent.

    A comma-separated ``topics`` list is a multi-topic FAN-IN: one query,
    one checkpoint, one exactly-once commit path for every topic (the
    reference runs one Flink job per topic — N jobs racing commits when
    they share a sink table). Partition ids are then namespaced per topic
    (``namespace_topic_partitions``) so the offset-dedup key stays sound."""
    topic_list = [t.strip() for t in topics.split(",") if t.strip()]
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(bootstrap, topics, starting).items():
        reader = reader.option(k, v)
    try:
        if len(topic_list) > 1:
            return namespace_topic_partitions(
                reader.load().select("topic", *KAFKA_SELECT_COLS), topic_list
            ).select(*KAFKA_SELECT_COLS)
        return reader.load().select(*KAFKA_SELECT_COLS)
    except Exception as exc:  # noqa: BLE001 — surface an actionable message
        # Only the missing-data-source signature means "jar absent";
        # auth/DNS/config errors also mention 'kafka' and must surface
        # unrewritten.
        msg = str(exc)
        if "Failed to find data source" in msg or (
            "DATA_SOURCE_NOT_FOUND" in msg
        ):
            raise RuntimeError(
                "Kafka source unavailable: add the spark-sql-kafka-0-10 "
                "package matching your Spark version (e.g. spark-submit "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
            ) from exc
        raise


def parsed_stream(
    raw: DataFrame,
    spec: TaskSpec,
    from_kafka: bool = False,
    observe: bool = False,
) -> DataFrame:
    if from_kafka:
        out = ingest.parse(
            raw, spec, offset_col="offset", partition_col="partition"
        )
    else:
        out = ingest.parse(raw, spec)
    if observe:
        # X3: per-batch observed metrics — surfaced in StreamingQueryProgress
        # .observedMetrics["ingest"] and captured by metrics.ThroughputListener
        out = out.observe(
            "ingest",
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_cdc_delete").cast("long")).alias("deletes"),
        )
    return out


def _us_to_ts(us: int):
    """Epoch-microseconds → naive UTC datetime (the bound type
    ``delete_range``'s stats comparator expects; session TZ is UTC)."""
    import datetime as _dt

    return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(us))


def robust_event_max(
    df: DataFrame,
    col: str,
    clamp_us: int | None,
    narrow_above: int = 2_000_000,
) -> int | None:
    """Poison-robust max event time of ``df[col]``, in epoch microseconds.

    A retention cutoff anchored on the raw batch max is one bad producer
    clock away from dropping most of a table: a single year-3000 timestamp
    advances the cutoff by centuries and ``delete_range`` ages everything
    out at the next tick. Anchor instead on
    ``min(max, p99 + clamp_us)`` — the exact 99th percentile plus a slack
    bound — so under 1% of poisoned rows cannot advance the anchor by more
    than ``clamp_us`` beyond the bulk of the batch. Both statistics derive
    from the data alone (no wall clock), so a replayed batch computes the
    identical anchor and replay guards stay sound. ``clamp_us=None``
    restores the raw max (the pre-clamp behavior).

    Exactness contract: with the non-null event times sorted ascending and
    0-indexed, ``k, r = divmod(99 * (n - 1), 100)``; the anchor percentile
    is ``p99 = s[k] + (s[min(k+1, n-1)] - s[k]) * r // 100`` — the FLOOR
    of the exact rational linear interpolation at rank ``0.99*(n-1)``,
    computed entirely in BIGINT. No double-precision leg anywhere (SQL
    ``percentile()`` interpolates in doubles, whose ~0.06µs ulp at
    ~4e14µs rounds the last microsecond differently from an exact
    replica), so any independent integer re-computation of the anchor is
    bit-identical — the same order-free integer-exact discipline the rest
    of the engine uses.

    Scale contract: the two order statistics are selected by hierarchical
    bucket narrowing — per-DAY counts over the whole input (cumulative
    window over the day domain: ≤ tens of thousands of rows for decades
    of data), then per-SECOND counts inside the ≤2 candidate days
    (≤ ~173k rows), then per-distinct-VALUE counts inside the ≤2
    candidate seconds (≤ ~2M rows). Every unpartitioned cumulative
    window therefore runs over a domain that is small by construction,
    and peak state is a bounded histogram — never SQL ``percentile()``'s
    value→count map over every distinct microsecond. This matters
    because the full-table maintenance path (``__main__.py``
    maintenance.retention) calls this over the ENTIRE table, where
    near-all-distinct µs timestamps would otherwise buffer O(rows) on
    one executor (and even a flat per-second histogram would push tens
    of millions of rows through one window partition per year of data).
    Inputs of ≤2M rows (every streaming micro-batch) skip the narrowing
    phases — the value phase alone is bounded at that n, and the hot
    maintenance-tick path pays 2 Spark jobs instead of 4.
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.unix_micros(F.col(col).cast("timestamp")).alias("_us")
    ).where(F.col("_us").isNotNull())
    n, mx = base.agg(F.count("_us"), F.max("_us")).collect()[0]
    if not n:
        return None
    mx = int(mx)
    if clamp_us is None:
        return mx
    k, r = divmod(99 * (int(n) - 1), 100)
    k2 = min(k + 1, int(n) - 1)
    # Narrowing phases: bucket by day then by second ("div" truncates
    # toward zero — monotone for a positive divisor, so buckets
    # partition the sorted order; bucket 0 spans ±1 unit, still
    # bounded). Each phase finds the ≤2 buckets holding global ranks
    # k/k2 (adjacent ranks → buckets adjacent in cumulative order) and
    # carries the global rank offset of the first one into the next.
    # Small inputs (every streaming micro-batch — this runs on the
    # maintenance tick, potentially per batch) skip the narrowing
    # entirely: the final value phase alone is already bounded at this
    # n, and the short-circuit saves two Spark jobs on the hot path.
    offset, cond = 0, None
    phases = (
        () if int(n) <= narrow_above else (86_400_000_000, 1_000_000)
    )
    for div in phases:
        bw = Window.orderBy("_b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        g = base.where(cond) if cond is not None else base
        targets = (
            g.groupBy(F.expr(f"_us div {div}").alias("_b"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .withColumn("_end", F.lit(offset) + F.sum("_c").over(bw))
            .withColumn("_start", F.col("_end") - F.col("_c"))
            .where((F.col("_start") <= k2) & (F.col("_end") > k))
            .collect()
        )
        offset = min(int(t["_start"]) for t in targets)
        cond = F.expr(f"_us div {div}").isin(
            [int(t["_b"]) for t in targets]
        )
    # Final phase: distinct-value cumulative counts inside the ≤2
    # candidate seconds; rank k / k2 select lo / hi as exact BIGINTs.
    vw = Window.orderBy("_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lo, hi = (
        (base.where(cond) if cond is not None else base)
        .groupBy("_us")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_end", F.lit(offset) + F.sum("_c").over(vw))
        .agg(
            F.min(F.when(F.col("_end") > k, F.col("_us"))).alias("lo"),
            F.min(F.when(F.col("_end") > k2, F.col("_us"))).alias("hi"),
        )
        .collect()[0]
    )
    p99 = int(lo) + (int(hi) - int(lo)) * r // 100
    return min(mx, p99 + int(clamp_us))


def _start_foreach_batch(
    df: DataFrame,
    checkpoint: str,
    trigger: dict | None,
    table: IcebergLite | None = None,
    commit=None,
):
    """Start ``df`` as a checkpointed foreachBatch query. With ``table``,
    every micro-batch is appended to it under the micro-batch id, in
    append output mode (the replay guard makes a replayed batch a no-op);
    otherwise ``commit(batch_df, batch_id)`` runs per micro-batch, in
    update output mode. ``trigger`` holds DataStreamWriter.trigger
    keywords (None: the default processing-time trigger)."""
    mode = "update"
    if table is not None:
        mode = "append"

        def commit(batch_df: DataFrame, batch_id: int) -> None:
            table.commit_append(batch_df, str(batch_id))

    writer = (
        df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint)
        .outputMode(mode)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def start_upsert_sink(
    parsed: DataFrame,
    table: IcebergLite,
    checkpoint: str,
    trigger: dict | None = None,
    dead_letter: IcebergLite | None = None,
    spec: TaskSpec | None = None,
    maintenance_every: int | None = None,
    keep_snapshots: int = 50,
    compact_sort_by: list[str] | None = None,
    compact_target_files: int = 1,
    strategy: str = "cow",
    retention_us: int | None = None,
    retention_col: str = "ts",
    retention_clamp_us: int | None = 3_600_000_000,
):
    """K2 exactly-once upsert sink as a streaming query.

    ``strategy="mor"`` switches the per-batch commit to merge-on-read:
    O(batch) appends + equality-delete files instead of CoW partition
    rewrites — the scale choice for fast triggers against a huge table.
    The maintenance tick then also materializes outstanding deletes, so
    read-side reconciliation cost stays bounded by the maintenance window.

    With ``dead_letter`` (requires ``spec``), rows violating not-null
    constraints are routed to a side table instead of failing the query
    (P8's production alternative to raise_error): each micro-batch commits
    clean rows to the main table and violations to the DLQ, both guarded by
    the same batch id — replay-idempotent on both sides. Build ``parsed``
    with ``enforce_not_null=False`` when using this mode.

    ``maintenance_every=N`` runs table maintenance every N committed
    batches — small-file compaction, then snapshot expiration keeping
    ``keep_snapshots`` versions — inside the same single-writer foreachBatch
    loop, so a long-lived job's read amplification and storage stay bounded
    without an external maintenance scheduler. ``compact_sort_by`` switches
    compaction to the SORT/clustering strategy (range-partitioned into
    ``compact_target_files`` within-sorted files per partition — disjoint
    key ranges, so manifest-stats pruning works inside partitions). Both operations preserve the
    replay guard (compaction carries batch ids; expiration folds them into
    ``inherited_batch_ids``).

    ``retention_us`` adds an EVENT-TIME TTL to the maintenance tick: rows
    with ``retention_col <= max(batch event time) - retention_us`` are
    dropped via the CoW ``delete_range`` (manifest surgery — a
    date-partitioned table ages out whole days metadata-only, rewriting
    at most the boundary file). The cutoff derives from the batch's own
    event times, NOT the wall clock, so a replayed batch computes the
    identical cutoff and the `retention:<batch_id>` guard makes the
    delete a no-op — retention stays inside the exactly-once contract.
    The anchor is the poison-clamped :func:`robust_event_max` (raw max
    bounded to p99 + ``retention_clamp_us``, default 1h), so one bad
    producer clock cannot advance the cutoff and silently age out the
    table; ≥1% poisoned rows can still move p99 itself — if producers
    are that untrustworthy, gate the stream through the DLQ first.
    Deleted rows remain time-travelable until the expiration step of the
    same tick ages their snapshots out.
    """

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if dead_letter is not None and spec is not None:
            bad = ingest.violations(batch_df, spec)
            cond = None
            for name in spec.not_null_cols:
                c = F.col(name).isNotNull()
                cond = c if cond is None else (cond & c)
            clean = batch_df.filter(cond) if cond is not None else batch_df
            table.commit_upsert(clean, str(batch_id), strategy=strategy)
            dead_letter.commit_append(bad, str(batch_id))
        else:
            table.commit_upsert(batch_df, str(batch_id), strategy=strategy)
        if maintenance_every and (int(batch_id) + 1) % maintenance_every == 0:
            if retention_us:
                mx = robust_event_max(
                    batch_df, retention_col, retention_clamp_us
                )
                if mx is not None:
                    cutoff = int(mx) - int(retention_us)
                    table.delete_range(
                        batch_df.sparkSession,
                        retention_col,
                        hi=_us_to_ts(cutoff),
                        batch_id=f"retention:{batch_id}",
                    )
            if strategy == "mor":
                table.materialize_deletes(batch_df.sparkSession)
            table.compact(
                batch_df.sparkSession,
                sort_by=compact_sort_by,
                target_files=compact_target_files,
            )
            table.expire_snapshots(keep_last=keep_snapshots)

    return _start_foreach_batch(parsed, checkpoint, trigger, commit=commit)


def start_corrupt_dlq(
    raw: DataFrame,
    table: IcebergLite,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Dead-letter branch for malformed envelopes.

    ``from_json`` silently nulls what the reference's Jackson parse would
    crash on; this side query lands exactly those raw payloads in their
    own exactly-once table (with an ingest timestamp) so a poisoned topic
    is queryable evidence rather than quietly-missing rows. Runs off the
    same raw stream as the main sink with its own checkpoint — the main
    pipeline never blocks on garbage.
    """
    bad = ingest.corrupt_envelopes(raw).select(
        F.col("value").cast("string").alias("raw_value"),
        F.current_timestamp().alias("dlq_ts"),
    )

    return _start_foreach_batch(bad, checkpoint, trigger, table=table)


def start_ddl_sink(
    raw: DataFrame,
    table: IcebergLite,
    checkpoint: str,
    spec=None,
    trigger: dict | None = None,
    from_kafka: bool = False,
):
    """Side query landing ``isDdl=true`` envelopes in their own table.

    Closes the reference's P5 TODO (DeserializedSchema.java:114-116):
    instead of passing DDL through unprocessed, source schema changes
    become queryable rows (database, table, ddl_sql, event_type, epochs,
    broker coordinates) with the same exactly-once commit protocol as the
    main sink. Runs off the same raw stream with its own checkpoint.
    """
    ddl = ingest.ddl_events(
        raw,
        spec,
        offset_col="offset" if from_kafka else None,
        partition_col="partition" if from_kafka else None,
    ).withColumn("ingest_ts", F.current_timestamp())

    return _start_foreach_batch(ddl, checkpoint, trigger, table=table)


def start_append_sink(
    parsed: DataFrame,
    table: IcebergLite,
    checkpoint: str,
    trigger: dict | None = None,
):
    """K1 append sink (no PK configured — reference append path)."""

    return _start_foreach_batch(parsed, checkpoint, trigger, table=table)


def enrich_with_dim(
    df: DataFrame,
    dim: DataFrame,
    on: str,
    prefix: str = "dim_",
) -> DataFrame:
    """Dimension enrichment: broadcast LEFT join, dim columns prefixed.

    The dimension side is broadcast, so the fact side — the 100 TB stream —
    never shuffles for enrichment; unmatched fact rows keep NULL enrichment
    columns (observable, never dropped). Prefixing the non-key dimension
    columns makes the join collision-free regardless of dim schema.
    """
    others = [c for c in dim.columns if c != on]
    slim = dim.select(
        F.col(on), *[F.col(c).alias(f"{prefix}{c}") for c in others]
    )
    return df.join(F.broadcast(slim), on=on, how="left")


def start_enriched_sink(
    parsed: DataFrame,
    dim_table: IcebergLite,
    table: IcebergLite,
    checkpoint: str,
    on: str,
    trigger: dict | None = None,
    prefix: str = "dim_",
):
    """Streaming dimension enrichment (Flink broadcast-state analogue).

    Every micro-batch re-reads the dimension table at its CURRENT snapshot
    and broadcast-LEFT-joins it into the batch before the exactly-once
    commit. Dimension upserts landing between micro-batches are therefore
    visible to the next batch with no stream restart — processing-time
    temporal-join semantics: each fact row is enriched with the dimension
    version current at ingest time, exactly like Flink's broadcast-state
    pattern the reference's users pair with its pipeline (the reference
    itself performs no enrichment — Kafka2IcebergApp.java wires source
    straight to sink). Replay safety: a replayed batch re-enriches against
    the CURRENT dim, but the batch-id guard means a replay only happens when
    the original commit never landed, so each batch id still commits exactly
    once.
    """

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        dim = dim_table.read(batch_df.sparkSession)
        enriched = enrich_with_dim(batch_df, dim, on, prefix=prefix)
        if table.pk:
            table.commit_upsert(enriched, str(batch_id))
        else:
            table.commit_append(enriched, str(batch_id))

    return _start_foreach_batch(parsed, checkpoint, trigger, commit=commit)


def dedup_stream(
    parsed: DataFrame,
    keys: list[str] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """O1 native form: state-backed streaming dedup on the logical PK.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes the first occurrence + delay — bounded state at
    10^12-turn scale, unlike plain dropDuplicates whose state grows forever.
    Use upstream of an append sink when replays/duplicate envelopes must
    collapse before hitting the table (the PK-MERGE upsert path is the
    alternative that also handles updates)."""
    from . import windows as win

    wm = win.with_watermark(parsed, "ts", watermark_delay)
    return wm.dropDuplicatesWithinWatermark(list(keys or ["conv_id", "turn_idx"]))


def start_session_sink(
    parsed: DataFrame,
    table: IcebergLite,
    checkpoint: str,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    trigger: dict | None = None,
):
    """[NORTH] W4 streaming branch: watermarked gap-closed session windows
    keyed by conv_id, appended exactly-once as they finalize.

    Append output mode means a session row is emitted exactly once, when the
    watermark passes session_end — the E2E latency the metric names is
    (emit time − session_end event time), bounded by watermark_delay + one
    trigger. The foreachBatch commit reuses the batch-id idempotence guard,
    so replays after crash recovery cannot double-append a session.
    """
    from . import windows as win

    wm = win.with_watermark(parsed, "ts", watermark_delay)
    sessions = win.sessionize(
        wm,
        gap,
        ["conv_id"],
        [
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").alias("max_turn"),
        ],
    )

    return _start_foreach_batch(sessions, checkpoint, trigger, table=table)


def start_pairs_sink(
    parsed: DataFrame,
    table: IcebergLite,
    checkpoint: str,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    trigger: dict | None = None,
    impl: str = "state",
):
    """[NORTH] J1 streaming branch: the stateful user↔reply join feeding an
    exactly-once append sink — the north_star's flagship dataflow
    (turn stream → Arrow-batched stateful pairing → Iceberg).

    Pairs emit as soon as both turns arrive (or unpaired at state expiry);
    the batch-id guard makes crash-replays no-ops, so each pair lands
    exactly once. Read-back parity with the batch twin is tested.

    ``impl``: 'state' (applyInPandasWithState — eager emission, dedups
    duplicate turns) or 'join' (JVM watermarked stream-stream join — same
    final rows on deduped input, ~3-4× throughput; see
    state.paired_turns_stream_join).
    """
    from .state import paired_turns_stream, paired_turns_stream_join
    from .windows import with_watermark

    turns = parsed.select("conv_id", "turn_idx", "role", "text", "ts")
    if impl == "join":
        # the join does not collapse duplicate turns itself (the stateful
        # impl does) — dedup within the watermark first so broker replays
        # cannot emit duplicate pairs; state for this is bounded by the
        # same delay that bounds the join's own buffers
        turns = with_watermark(
            turns, "ts", watermark_delay
        ).dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
        pairs = paired_turns_stream_join(
            turns, gap=gap, watermark_delay=None  # already watermarked
        )
    else:
        pairs = paired_turns_stream(
            turns, gap=gap, watermark_delay=watermark_delay
        )

    return _start_foreach_batch(pairs, checkpoint, trigger, table=table)


def start_window_sink(
    parsed: DataFrame,
    table: IcebergLite,
    checkpoint: str,
    size: str = "5 minutes",
    keys: list[str] | None = None,
    watermark_delay: str = "10 minutes",
    trigger: dict | None = None,
):
    """[NORTH] W2 streaming branch: watermarked tumbling-window aggregates
    appended exactly-once as windows finalize (same contract as the session
    branch; sliding = pass a slide via windows.sliding if needed)."""
    from . import windows as win

    wm = win.with_watermark(parsed, "ts", watermark_delay)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("conv_id").alias("approx_convs"),
    ]
    windowed = win.tumbling(wm, size, list(keys or ["role"]), aggs)

    return _start_foreach_batch(windowed, checkpoint, trigger, table=table)


def run_ingest_once(
    spark: SparkSession,
    stream_dir: str,
    spec: TaskSpec,
    table: IcebergLite,
    checkpoint: str,
    max_files_per_trigger: int = 2,
    strategy: str = "cow",
) -> None:
    """Process everything currently in the broker dir, then stop (used by
    tests and the bench; availableNow gives deterministic micro-batching)."""
    raw = file_broker_stream(spark, stream_dir, max_files_per_trigger)
    parsed = parsed_stream(raw, spec)
    q = start_upsert_sink(
        parsed,
        table,
        checkpoint,
        trigger={"availableNow": True},
        strategy=strategy,
    )
    q.awaitTermination()


def start_fanout_sink(
    raw: DataFrame,
    specs: list[TaskSpec],
    catalog,
    names: list[str],
    checkpoint: str,
    trigger: dict | None = None,
    from_kafka: bool = False,
):
    """One CDC stream → every routed table, in ONE atomic commit per batch.

    A real CDC topic multiplexes many source tables; the reference runs
    one job per (database, table) (task.json routes a single pair), so N
    sink tables cost N scans of the same topic. At 100 TB of broker
    traffic the scan IS the bottleneck — this sink fans a SINGLE pass
    out to all routed tables: each spec's P1-P15 parse is a narrow
    projection of the shared micro-batch (Catalyst prunes each branch's
    envelope fields independently), per-spec rows land via the spec's
    own upsert/append semantics, and all tables plus their replay guard
    advance through one ``MultiTableTransaction`` catalog CAS — a crash
    can never commit table A's slice of a batch without table B's.

    ``names[i]`` is the catalog registration for ``specs[i]``'s sink
    (pk'd registrations upsert, pk-less ones append). Replayed batch ids
    are committed no-ops, exactly like the single-table sinks.
    """
    from kafka2iceberg_spark import ingest as _ingest

    kafka_cols = (
        dict(offset_col="offset", partition_col="partition")
        if from_kafka
        else {}
    )

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # namespaced per sink (the table set), like every other committer:
        # two fan-out queries sharing one catalog must not collide on
        # bare batch ids and silently skip each other's batches
        txn_id = f"fanout:{':'.join(names)}:{batch_id}"
        if txn_id in catalog.committed_txns():
            return
        txn = catalog.transaction(txn_id)
        for spec, name in zip(specs, names):
            rows = _ingest.parse(batch_df, spec, **kafka_cols)
            if catalog.table(name).pk:
                txn.upsert(name, rows)
            else:
                txn.append(name, rows)
        txn.commit()

    return _start_foreach_batch(raw, checkpoint, trigger, commit=commit)


def start_dynamic_sink(
    raw: DataFrame,
    spec: TaskSpec,
    table: IcebergLite,
    checkpoint: str,
    spec_journal: str,
    trigger: dict | None = None,
    ddl_table: IcebergLite | None = None,
    from_kafka: bool = False,
):
    """Upsert sink with LIVE schema evolution driven by the DDL stream.

    The reference recognizes ``isDdl`` envelopes but TODOs them
    (DeserializedSchema.java:114-116): after an upstream ``ALTER TABLE …
    ADD COLUMN`` its job silently drops the new field until someone
    redeploys the field config. This sink closes that window inside one
    continuous query: each micro-batch first applies its routed DDL
    events (supported ADD COLUMNs, in broker-offset order) to the task
    spec via ``ingest.evolve_spec``, journals the applied statements,
    and THEN parses the batch with the evolved spec — so data envelopes
    carrying the new field flow through P7-P9 typed from the very batch
    the ALTER arrives in, and the sink's add-column evolution lands the
    new column NULL-backfilled for history. Unsupported DDL is never
    half-applied — it stays a recognized side event (``ddl_table``).

    A static streaming plan cannot re-resolve mid-query, so the parse
    runs per-batch over the RAW stream inside foreachBatch — same
    exactly-once guard as every sink here. ``spec_journal`` (a JSON file
    next to the checkpoint) replays applied DDL on restart BEFORE new
    batches parse; journal replay and duplicate DDL delivery are no-ops
    because ``evolve_spec`` is idempotent on column presence. The
    journal is written before the table commit: a crash between the two
    re-applies the DDL harmlessly on redelivery.
    """
    import json
    import os

    current = spec
    if os.path.exists(spec_journal):
        with open(spec_journal) as fh:
            for line in fh:
                current = ingest.evolve_spec(current, json.loads(line)["sql"])
    state = {"spec": current}
    kafka_cols = (
        dict(offset_col="offset", partition_col="partition")
        if from_kafka
        else {}
    )

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        ddls = (
            ingest.ddl_events(batch_df, state["spec"], **kafka_cols)
            .orderBy("partition_idx", "offset")
            .collect()
        )
        for row in ddls:
            evolved = ingest.evolve_spec(state["spec"], row["ddl_sql"])
            if evolved is not state["spec"]:
                with open(spec_journal, "a") as fh:
                    fh.write(json.dumps({"sql": row["ddl_sql"]}) + "\n")
                    fh.flush()
                    os.fsync(fh.fileno())
                state["spec"] = evolved
        if ddl_table is not None and ddls:
            ddl_table.commit_append(
                batch_df.sparkSession.createDataFrame(ddls),
                f"ddl:{batch_id}",
            )
        rows = ingest.parse(batch_df, state["spec"], **kafka_cols)
        table.commit_upsert(rows, str(batch_id))

    return _start_foreach_batch(raw, checkpoint, trigger, commit=commit)
