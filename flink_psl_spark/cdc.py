"""CDC ingestion + upsert materialization (SURVEY §7 M4).

Reference: the CDC JSON formats (flink-formats/flink-json/.../debezium/
DebeziumJsonDeserializationSchema.java, canal/CanalJsonDeserializationSchema
.java, maxwell/MaxwellJsonDeserializationSchema.java) turn change messages
into Flink changelog rows (+I/-U/+U/-D, RowKind.java:25); upsert sinks
consume them keyed by primary key.

Our engine's changelog rows are explicit data — an ``__op`` column with
values 'I' / 'U' / 'D' (+ '-U' for update-before, dropped on ingest; see
operators/changelog.py). Parsers here are pure expression pipelines
(from_json → explode of envelope fields), so CDC decoding runs inside
whole-stage codegen at scan parallelism; ``upsert_into_parquet`` is the
``foreachBatch`` MERGE strategy for sinks without native upsert.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_psl_spark.operators.changelog import ROWKIND_COL, changelog_normalize


def parse_debezium(raw: DataFrame, value_schema: str, json_col: str = "value") -> DataFrame:
    """Debezium envelope: {"before": {...}, "after": {...}, "op": "c|u|d|r",
    "ts_ms": ...}. Emits the after-image (before-image for deletes) with
    ``__op`` ∈ I/U/D and ``__ts_ms``.

    op mapping (DebeziumJsonDeserializationSchema.java): c/r → insert,
    u → update (we keep only the after-image ⇒ drop the implicit -U),
    d → delete.

    Malformed records behave like the reference's
    ``debezium-json.ignore-parse-errors``: unparseable JSON yields an
    all-NULL row and unknown ops a NULL ``__op``; both are excluded by
    ``changelog_normalize``'s DEFAULT op filter rather than failing the
    job — filter ``__op IS NULL`` upstream to quarantine them instead.
    Do NOT combine a parse_* feed with
    ``changelog_normalize(wellformed=True)``: that flag skips the op
    filter, so a NULL-op row that wins the version rank silently
    deletes its key instead of being quarantined. ``wellformed`` is for
    producers that PROVE op ∈ {I, U, D} on every row (self-constructed
    envelopes), never for ignore-parse-errors inputs.
    """
    env = F.from_json(
        F.col(json_col),
        f"struct<before: {value_schema}, after: {value_schema}, "
        "op: string, ts_ms: bigint>",
    )
    parsed = raw.select(env.alias("__env")).select(
        F.when(F.col("__env.op") == "d", F.col("__env.before"))
        .otherwise(F.col("__env.after"))
        .alias("__row"),
        F.when(F.col("__env.op").isin("c", "r"), F.lit("I"))
        .when(F.col("__env.op") == "u", F.lit("U"))
        .when(F.col("__env.op") == "d", F.lit("D"))
        .alias(ROWKIND_COL),
        F.col("__env.ts_ms").alias("__ts_ms"),
    )
    return parsed.select("__row.*", ROWKIND_COL, "__ts_ms")


def parse_canal(raw: DataFrame, value_schema: str, json_col: str = "value") -> DataFrame:
    """Canal envelope: {"data": [{...}...], "old": [...], "type":
    "INSERT|UPDATE|DELETE", "ts": ...} — ``data`` is an ARRAY of rows
    (CanalJsonDeserializationSchema.java), exploded here."""
    env = F.from_json(
        F.col(json_col),
        f"struct<data: array<{value_schema}>, type: string, ts: bigint>",
    )
    parsed = (
        raw.select(env.alias("__env"))
        .select(
            F.explode("__env.data").alias("__row"),
            F.when(F.col("__env.type") == "INSERT", F.lit("I"))
            .when(F.col("__env.type") == "UPDATE", F.lit("U"))
            .when(F.col("__env.type") == "DELETE", F.lit("D"))
            .alias(ROWKIND_COL),
            F.col("__env.ts").alias("__ts_ms"),
        )
    )
    return parsed.select("__row.*", ROWKIND_COL, "__ts_ms")


def parse_maxwell(raw: DataFrame, value_schema: str, json_col: str = "value") -> DataFrame:
    """Maxwell envelope: {"data": {...}, "type": "insert|update|delete",
    "ts": ...} (MaxwellJsonDeserializationSchema.java)."""
    env = F.from_json(
        F.col(json_col),
        f"struct<data: {value_schema}, type: string, ts: bigint>",
    )
    parsed = raw.select(env.alias("__env")).select(
        F.col("__env.data").alias("__row"),
        F.when(F.col("__env.type") == "insert", F.lit("I"))
        .when(F.col("__env.type") == "update", F.lit("U"))
        .when(F.col("__env.type") == "delete", F.lit("D"))
        .alias(ROWKIND_COL),
        F.col("__env.ts").alias("__ts_ms"),
    )
    return parsed.select("__row.*", ROWKIND_COL, "__ts_ms")


def parse_ogg(raw: DataFrame, value_schema: str, json_col: str = "value") -> DataFrame:
    """Oracle GoldenGate (OGG) envelope: {"before": {...}, "after": {...},
    "op_type": "I|U|D", "op_ts": "..."} (OggJsonDeserializationSchema.java:
    59-61 op codes; 111-113 envelope fields). Updates carry both images —
    the reference emits -U then +U; per our changelog design the after-image
    is kept and the implicit -U dropped (operators/changelog.py)."""
    env = F.from_json(
        F.col(json_col),
        f"struct<before: {value_schema}, after: {value_schema}, "
        "op_type: string, op_ts: string>",
    )
    parsed = raw.select(env.alias("__env")).select(
        F.when(F.col("__env.op_type") == "D", F.col("__env.before"))
        .otherwise(F.col("__env.after"))
        .alias("__row"),
        F.when(F.col("__env.op_type") == "I", F.lit("I"))
        .when(F.col("__env.op_type") == "U", F.lit("U"))
        .when(F.col("__env.op_type") == "D", F.lit("D"))
        .alias(ROWKIND_COL),
        F.unix_millis(F.to_timestamp(F.col("__env.op_ts"))).alias("__ts_ms"),
    )
    return parsed.select("__row.*", ROWKIND_COL, "__ts_ms")


def merge_upsert(
    current: DataFrame | None,
    changes: DataFrame,
    keys: str | list[str],
    version_by: str | list[str],
) -> DataFrame:
    """Pure MERGE: apply a keyed changelog batch onto the current table
    image (both DataFrames) and return the new image.

    current rows are treated as inserts with version -∞ (they lose to any
    change for the same key); the result is the normalized latest image
    with deletes applied. This is the per-batch body of
    ``upsert_into_parquet`` and is directly usable inside ``foreachBatch``
    against Delta's ``MERGE`` when available.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    vers = [version_by] if isinstance(version_by, str) else list(version_by)
    ch = changes
    if current is not None:
        base = current
        for c in [ROWKIND_COL, *vers]:
            if c not in base.columns:
                base = base.withColumn(
                    c,
                    F.lit("I") if c == ROWKIND_COL
                    else F.lit(None).cast(dict(ch.dtypes)[c]),
                )
        # nulls-first ordering makes existing rows older than any change
        ch = base.select(ch.columns).unionByName(ch)
    return changelog_normalize(ch, key_list, vers)


def upsert_into_parquet(
    changes_stream: DataFrame,
    path: str,
    keys: str | list[str],
    version_by: str | list[str],
    *,
    checkpoint: str,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming upsert sink: foreachBatch MERGE into a parquet table.

    Each micro-batch reads the current image, merges the batch's changelog
    rows, and atomically rewrites (write-new + swap via overwrite). With a
    transactional table format (Delta/Iceberg) the body becomes a native
    MERGE INTO; parquet keeps the engine dependency-free here.

    Scale note: full-image rewrite is O(table) per batch — correct but only
    for small/medium dimensions. Large tables use
    ``upsert_into_partitioned_parquet`` (rewrites only the key-buckets a
    batch touches) or Delta MERGE; the per-batch logic (merge_upsert) is
    identical.
    """
    spark = changes_stream.sparkSession

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        try:
            current = spark.read.parquet(path)
        except Exception:
            current = None
        out = merge_upsert(current, batch, keys, version_by)
        out.persist()
        out.count()  # materialize before overwriting the input path
        out.write.mode("overwrite").parquet(path)
        out.unpersist()

    return (
        changes_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


BUCKET_COL = "__bucket"


def key_bucket(keys: str | list[str], num_buckets: int) -> Column:
    """Deterministic key → partition-bucket assignment (hash mod buckets)."""
    key_list = [keys] if isinstance(keys, str) else list(keys)
    # int, not bigint: partition-directory values read back as IntegerType,
    # and merge_upsert unions the current image with the batch by name
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in key_list]), F.lit(num_buckets)
    ).cast("int")


def upsert_into_partitioned_parquet(
    changes_stream: DataFrame,
    path: str,
    keys: str | list[str],
    version_by: str | list[str],
    *,
    checkpoint: str,
    num_buckets: int = 16,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Partition-pruned streaming upsert sink: the reference's upsert-sink
    semantics (upsert-kafka changelog mode, KafkaDynamicSource.java:80)
    landed on files WITHOUT the O(table)-per-batch rewrite.

    The table is laid out as ``path/__bucket=N/`` with N = hash(keys) %
    num_buckets. Each micro-batch:

    1. computes the set of buckets its keys fall in (≤ num_buckets values —
       a bounded driver-side collect);
    2. reads ONLY those partitions back (partition pruning on the bucket
       filter — untouched buckets are never scanned);
    3. merges the batch changelog onto that slice (merge_upsert);
    4. publishes via dynamic partition overwrite — Spark replaces exactly
       the partitions present in the written data, leaving every untouched
       bucket's files byte-identical on disk.

    Cost per batch is O(touched buckets), not O(table): at 100 TB with
    date+bucket partitioning, a batch touching 0.1% of keys rewrites ~0.1%
    of files. num_buckets sizes the rewrite granularity — more buckets =
    finer rewrites but more small files; a production table also
    partitions by a time column so old data never rewrites.
    """
    spark = changes_stream.sparkSession
    key_list = [keys] if isinstance(keys, str) else list(keys)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        bucketed = batch.withColumn(BUCKET_COL, key_bucket(key_list, num_buckets))
        bucketed.persist()
        touched = [
            r[0] for r in bucketed.select(BUCKET_COL).distinct().collect()
        ]
        if not touched:
            bucketed.unpersist()
            return
        try:
            # bucket filter on the partition column → partition pruning:
            # untouched buckets' files are never even scanned
            current = spark.read.parquet(path).where(
                F.col(BUCKET_COL).isin(touched)
            )
            current.schema  # force existence check now, not at the merge
        except Exception:
            current = None
        out = merge_upsert(current, bucketed, key_list, version_by)
        out.persist()
        out.count()  # materialize before overwriting the partitions it read
        # dynamic overwrite as a writer option: it governs this write only
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )
        out.unpersist()
        bucketed.unpersist()

    return (
        changes_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def parse_upsert(
    raw: DataFrame,
    key_schema: str,
    value_schema: str,
    *,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """upsert-kafka FORMAT semantics, transport-free (reference
    UpsertKafkaDynamicTableFactory / DynamicKafkaDeserializationSchema's
    upsert mode): every record is keyed; a NULL value is a tombstone —
    a DELETE of its key — and a non-null value upserts it.

    Consumes (key, value) JSON string columns from ANY source (files, a
    real Kafka scan when the jar is present, test fixtures), so the
    changelog semantics are provable without a broker. Emits key fields +
    value fields (NULL for tombstones) + ``__op`` ∈ U/D; feed the result
    to ``changelog_normalize``/``merge_upsert`` with the key fields and a
    version column (e.g. the Kafka offset) for the table image.
    """
    k = F.from_json(F.col(key_col), key_schema)
    v = F.from_json(F.col(value_col), value_schema)
    passthrough = [
        c for c in raw.columns if c not in (key_col, value_col)
    ]
    return raw.select(
        k.alias("__k"),
        v.alias("__v"),
        F.when(F.col(value_col).isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias(ROWKIND_COL),
        *passthrough,
    ).select("__k.*", "__v.*", ROWKIND_COL, *passthrough)


def scd2_into_parquet(
    changes_stream: DataFrame,
    dim_path: str,
    keys: str | list[str],
    version_ts: str,
    *,
    checkpoint: str,
    events_path: str,
    op_col: str = ROWKIND_COL,
    tiebreak: list[str] | None = None,
    available_now: bool = False,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming SCD Type 2 materialization: maintain a versioned
    dimension (``valid_from`` / ``valid_to`` / ``is_current``) from a
    keyed changelog stream — the streaming counterpart of
    ``operators.changelog.scd2_history``.

    Strategy: **recompute-affected-keys**. Each micro-batch (1) lands
    idempotently in a per-batch event-store partition
    (``events_path/__batch=N`` — a replayed batch OVERWRITES its own
    partition, so restarts never double events: exactly-once by
    idempotence, the same discipline as the two-phase sink), then
    (2) rebuilds the FULL history of only the keys the batch touches
    from the event store and swaps those keys' rows into the dimension.
    Because every rebuild sees a key's complete event set, the final
    dimension equals the batch ``scd2_history`` over all events
    REGARDLESS of how events split across batches or arrive out of
    order — no watermark bookkeeping needed for correctness.

    Scale notes: per-batch work is (batch keys × their history size) —
    bounded by key cardinality per trigger, not table size — but the
    dimension swap here is a full-image rewrite like
    ``upsert_into_parquet`` (right for small/medium dimensions; large
    ones use the key-bucket partitioned variant's rewrite-only-touched-
    buckets pattern, or a transactional format's MERGE).
    """
    from flink_psl_spark.operators.changelog import scd2_history

    spark = changes_stream.sparkSession
    key_list = [keys] if isinstance(keys, str) else list(keys)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        batch.write.mode("overwrite").parquet(
            f"{events_path}/__batch={batch_id}"
        )
        events = spark.read.parquet(events_path)
        events = events.drop("__batch")
        affected = batch.select(*key_list).distinct()
        key_events = events.join(affected, on=key_list)
        hist = scd2_history(
            key_events, key_list, version_ts, op_col=op_col,
            tiebreak=tiebreak,
        )
        try:
            current = spark.read.parquet(dim_path)
        except Exception:
            current = None
        if current is not None:
            keepers = current.join(affected, on=key_list, how="left_anti")
            out = keepers.unionByName(hist.select(*keepers.columns))
        else:
            out = hist
        out.persist()
        out.count()  # materialize before overwriting the input path
        out.write.mode("overwrite").parquet(dim_path)
        out.unpersist()

    w = (
        changes_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
