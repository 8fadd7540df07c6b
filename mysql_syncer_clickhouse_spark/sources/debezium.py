"""Debezium-envelope changelog source (JSON).

The reference tails the MySQL replication protocol directly as a
pseudo-replica (reference river/river.go:102-123, river/sync.go:72-102).
The standard Spark-era equivalent of that binlog tail is Debezium
publishing change events to Kafka; this module parses that public
envelope -- `op` c/u/r/d, `before`/`after` row images, `source.file`/
`source.pos` binlog position, `source.ts_ms` -- into the repo's
normalized changelog schema (sources/changelog.py):

    (seq long, ts timestamp, op string, <row columns...>)

so the existing apply path (streaming/pipeline.py + operators/
upsert.py) consumes a real replication feed without modification.

Transport: in this sandbox the stream is JSON-lines files driven by
`readStream.text` (one envelope per line, exactly what `kafka-console-
consumer` would show). With spark-sql-kafka on the classpath, swap the
reader for `spark.readStream.format("kafka")` and feed
`CAST(value AS STRING)` to the same `parse_debezium`; nothing else
changes.

Scale notes: parsing is pure Catalyst (`from_json` + column ops -- no
Python in the row path), so it pipelines inside whole-stage codegen at
any partition count. Ordering does not rely on file arrival: `seq`
encodes (binlog file index, position), the same total order the
reference persists in master.info (river/master.go:17-25).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Debezium op -> normalized op. 'r' (snapshot read) applies as insert,
# giving the same snapshot+increment contract as the reference's canal
# dump phase (river/sync.go:33-50).
_OP_MAP = {"c": "insert", "r": "insert", "u": "update", "d": "delete"}


def envelope_ddl(row_ddl: str) -> str:
    """DDL for the (unwrapped) Debezium payload given the row schema.

    Matches the public Debezium MySQL connector envelope; `source`
    keeps only the fields the sync path needs (binlog position + db/
    table for routing) -- from_json ignores extra JSON keys, so real
    envelopes with the full source block parse unchanged.
    """
    return (f"before struct<{row_ddl}>, after struct<{row_ddl}>, "
            "source struct<db string, `table` string, file string, "
            "pos long, `row` int, ts_ms long>, op string, ts_ms long")


def binlog_seq(file_col: F.Column, pos_col: F.Column,
               row_col: F.Column | None = None) -> F.Column:
    """Total order from (binlog file, position, row-in-statement):
    numeric suffix of the file name (mysql-bin.000042 -> 42) in the
    high bits, position shifted by 8, `source.row` in the low byte.
    Same total order the reference checkpoints as master.info's
    (name, pos) pair (river/master.go:17-25), refined by row so a
    multi-row statement -- several envelopes sharing one source.pos --
    still yields UNIQUE seq values (upsert.latest_state's
    max_by(struct, seq) depends on uniqueness for determinism).

    Bit budget (64-bit long): pos < 2^32 (binlog positions are
    32-bit) so pos<<8 < 2^40; file index gets bits 40..62 (8M binlog
    files); row is clamped to the low byte -- events with >255 rows
    keep a total order across events and degrade only within one
    oversized event (Debezium splits row events well below that)."""
    idx = F.regexp_extract(file_col, r"(\d+)$", 1).cast("long")
    row = (F.least(F.coalesce(row_col.cast("long"), F.lit(0)), F.lit(255))
           if row_col is not None else F.lit(0))
    return (F.coalesce(idx, F.lit(0)) * F.lit(1 << 40)
            + F.coalesce(pos_col, F.lit(0)) * F.lit(1 << 8)
            + row).alias("seq")


def parse_debezium(lines: DataFrame, row_ddl: str,
                   value_col: str = "value", *,
                   with_routing: bool = False,
                   with_before: bool = False) -> DataFrame:
    """Parse a column of Debezium JSON envelopes (one per row) into the
    normalized changelog schema. Works identically on a batch or
    streaming DataFrame (pure column expressions).

    Tolerates both raw payloads and schema-ful envelopes (the connector
    default wraps the payload in {"schema":..., "payload":...}).
    Unparseable lines are dropped (try-semantics), mirroring the
    reference's skip-and-log on decode errors.

    PK-changing updates need no special casing here: the public
    Debezium contract is that an UPDATE touching the primary key is
    emitted as DELETE(old key) + tombstone + CREATE(new key), so the
    row MOVES through the ordinary apply path (the reference's
    river_test.go:318-320 scenario); Kafka tombstones (null payloads)
    fall out via the null-row filter below. Asserted end-to-end in
    tests/test_debezium.py.

    `with_before=True` additionally emits the paired OLD row image as
    `before_<col>` columns (non-null exactly for updates; the
    reference consumes the binlog's paired (old, new) update rows,
    river/sync.go:84-102) -- the changed-column diff (operators/
    upsert.fill_partial_updates' input contract) and audit sinks read
    it; plain apply paths leave it off and carry only the new image.
    """
    env_ddl = envelope_ddl(row_ddl)
    raw = F.col(value_col)
    # unwrap {"schema":..., "payload": {...}} if present
    payload_str = F.coalesce(F.get_json_object(raw, "$.payload"), raw)

    # ONE from_json per row (r15, guide §4.4's duplication lesson
    # applied to JVM expressions). The previous single-select form
    # referenced `env` four times, and Catalyst's per-use from_json
    # schema pruning makes each reference a DIFFERENT JsonToStructs
    # expression -- so nothing CSEs and each row was parsed 4x; the
    # null-drop filter below was then pushed beneath the projection,
    # substituting the whole parse chain into each of its three
    # conjunct references (measured on cdc_debezium_parse at sf0.1:
    # 8 from_json + 7 to_json evaluations per row, 6.1 s -> 1 + 1,
    # 1.4 s). Staged projects keep the full-schema parse single
    # (CollapseProject refuses to inline a non-cheap alias used more
    # than once), and the __bar column makes the staged project list
    # non-deterministic, which is the one thing PushDownPredicates
    # respects -- rand()-style always-true CONJUNCTS don't work
    # (deterministic conjuncts are partitioned out and pushed anyway,
    # and Spark 4 constant-folds rand() bound comparisons;
    # monotonically_increasing_id is rejected on streaming frames,
    # spark_partition_id is not). __bar is always >= 0 by
    # construction, so the filter keeps exactly the rows it always
    # kept; nothing downstream sees the column.
    parsed = lines.select(F.from_json(payload_str, env_ddl).alias("e"))
    e = F.col("e")
    op_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in _OP_MAP.items() for x in kv]),
        e.getField("op"))
    # row image: after for c/r/u, before for d (after is null on delete)
    row = F.coalesce(e.getField("after"), e.getField("before"))
    src = e.getField("source")

    # parse the DDL properly -- a naive comma split breaks on
    # parameterized/nested types (decimal(10,2), array<...>, struct<...>)
    from pyspark.sql.types import StructType
    row_fields = StructType.fromDDL(row_ddl).fieldNames()
    # (db, table) feed RuleSet.match for multi-table topics; off by
    # default so the apply path's payload = row columns exactly
    routing = ([F.col("src").getField("db").alias("src_db"),
                F.col("src").getField("table").alias("src_table")]
               if with_routing else [])
    # paired old image: only updates carry one (deletes' before IS the
    # row image above; inserts have none) -- NULL columns otherwise
    before = (F.when(F.col("op") == "update",
                     F.col("e").getField("before"))
              if with_before else None)
    before_cols = ([before.getField(c).alias(f"before_{c}")
                    for c in row_fields] if with_before else [])
    staged = parsed.select(
        "e", op_expr.alias("op"), row.alias("row"), src.alias("src"),
        F.spark_partition_id().alias("__bar"))
    return (staged
            .filter((F.col("__bar") >= F.lit(0))
                    & F.col("op").isNotNull() & F.col("row").isNotNull())
            .select(
                binlog_seq(F.col("src").getField("file"),
                           F.col("src").getField("pos"),
                           F.col("src").getField("row")),
                F.timestamp_millis(
                    F.coalesce(F.col("src").getField("ts_ms"),
                               F.col("e").getField("ts_ms"))).alias("ts"),
                "op",
                *routing,
                *[F.col("row").getField(c).alias(c) for c in row_fields],
                *before_cols))


def read_debezium_stream(spark: SparkSession, source_dir: str,
                         row_ddl: str, *,
                         max_files_per_trigger: int = 4) -> DataFrame:
    """Streaming reader over a directory of Debezium JSON-lines files
    (the Kafka-topic analog for this sandbox). Backpressure via
    maxFilesPerTrigger, exactly like the parquet changelog source."""
    lines = (spark.readStream
             .option("maxFilesPerTrigger", max_files_per_trigger)
             .text(source_dir))
    return parse_debezium(lines, row_ddl)


def read_debezium_batch(spark: SparkSession, source_dir: str,
                        row_ddl: str) -> DataFrame:
    """Batch catch-up over the same files (canal dump-phase analog)."""
    return parse_debezium(spark.read.text(source_dir), row_ddl)


def read_debezium_kafka(spark: SparkSession, bootstrap_servers: str,
                        topic: str, row_ddl: str, *,
                        starting_offsets: str = "earliest",
                        max_offsets_per_trigger: int | None = None
                        ) -> DataFrame:
    """The production transport: the same envelope parse over a Kafka
    topic (what Debezium actually publishes to). Requires the
    spark-sql-kafka connector on the classpath -- not shipped in this
    sandbox, where the JSON-lines reader above is the stand-in; the
    apply path downstream is identical. maxOffsetsPerTrigger is the
    Kafka-side backpressure knob (maxFilesPerTrigger analog)."""
    reader = (spark.readStream.format("kafka")
              .option("kafka.bootstrap.servers", bootstrap_servers)
              .option("subscribe", topic)
              .option("startingOffsets", starting_offsets))
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger",
                               str(max_offsets_per_trigger))
    lines = reader.load().selectExpr("CAST(value AS STRING) AS value")
    return parse_debezium(lines, row_ddl)


def parse_debezium_schema_change(lines: DataFrame) -> DataFrame:
    """Debezium's SCHEMA-CHANGE topic (the history/schema-change
    stream a MySQL connector publishes alongside row topics): each
    value is a JSON envelope carrying `databaseName`, the raw `ddl`
    statement text, and the `source` block with the binlog position.
    Parses to (seq, ts, db, table, query) -- `query` feeds the SAME
    sources/ddl.parse_mysql_ddl -> map_action -> apply_ddl_to_sink
    chain the binlog-file path uses, so a Kafka-fed deployment gets
    DDL replication with no second code path.

    Pure Catalyst (from_json + column ops); the stream is tiny (one
    event per DDL statement), so the downstream collect-and-apply is
    the same rare-event driver-side shape as read_binlog_ddl.
    Non-DDL housekeeping messages (empty/absent ddl) are dropped;
    tableChanges is deliberately unused -- the statement text is the
    authority, matching the binlog path.

    Parses each envelope ONCE (round 16): the old single-select
    referenced the from_json result 5x and the empty-ddl filter's
    pushdown substituted the parse chain into its conjuncts -- the
    same per-row parse multiplication parse_debezium had (r15,
    measured 8 parses/row there). Same staged-project +
    spark_partition_id barrier fix; __bar >= 0 is always true, so the
    filter keeps exactly the rows it always kept."""
    env = ("databaseName string, ddl string, "
           "source struct<file:string, pos:long, ts_ms:long, "
           "table:string>")
    staged = lines.select(
        F.from_json(F.col("value"), env).alias("e"),
        F.spark_partition_id().alias("__bar"))
    e = F.col("e")
    return (staged
            .filter((F.col("__bar") >= F.lit(0))
                    & e.getField("ddl").isNotNull()
                    & (F.trim(e.getField("ddl")) != ""))
            .select(
                binlog_seq(e.getField("source").getField("file"),
                           e.getField("source").getField("pos")),
                F.timestamp_millis(
                    e.getField("source").getField("ts_ms")).alias("ts"),
                e.getField("databaseName").alias("db"),
                e.getField("source").getField("table").alias("table"),
                e.getField("ddl").alias("query")))
