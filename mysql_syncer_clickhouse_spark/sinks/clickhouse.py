"""ClickHouse sink writer over the public HTTP interface.

The reference's whole purpose is applying batches to ClickHouse
(clickhouse/client.go:77-233: Begin/Exec/Commit over native TCP with
bulk INSERTs, plus the auto-CREATE at startup). This is the Spark-era
equivalent:

- `ensure_table()` executes the same auto-CREATE DDL the reference
  builds (functions/typemap.clickhouse_create_table_ddl) -- driver-side,
  once, before the stream starts.
- `apply_batch(df, epoch_id)` is a `foreachBatch` target: each micro-
  batch is INSERTed as `FORMAT JSONEachRow` chunks of `bulk_size` rows
  (the reference's bulk_size knob, river/sync.go:116-178). Rows are
  posted FROM THE EXECUTORS via foreachPartition -- N partitions insert
  in parallel, nothing funnels through the driver, which is the only
  shape that survives 100 TB. ClickHouse HTTP INSERTs are atomic per
  request up to max_insert_block_size, and the ReplacingMergeTree sink
  dedups replayed epochs by (pk, seq) order -- the same at-least-once-
  then-idempotent contract as the parquet changelog sink.

Transport is stdlib urllib (the documented public HTTP protocol,
default port 8123): no driver library needed. Point `url` at a real
server (`http://host:8123`) -- tests run against a local fake that
records requests (tests/test_clickhouse_sink.py); there is no live
ClickHouse in this sandbox.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..functions.typemap import clickhouse_create_table_ddl


def _post(url: str, query: str, body: bytes = b"",
          user: str | None = None, password: str | None = None,
          timeout: int = 60,
          params: dict[str, str] | None = None) -> bytes:
    """One ClickHouse HTTP request: SQL in the query string, data (for
    INSERT ... FORMAT ...) in the body, extra settings (e.g.
    insert_deduplication_token) as additional query params -- the
    public HTTP-settings mechanism. Module-level so executor-side
    closures pickle cleanly."""
    q = urllib.parse.urlencode({"query": query, **(params or {})})
    req = urllib.request.Request(f"{url}/?{q}", data=body, method="POST")
    if user:
        req.add_header("X-ClickHouse-User", user)
    if password:
        req.add_header("X-ClickHouse-Key", password)
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.read()


def _row_to_json(row) -> str:
    # JSONEachRow: dates/decimals render as strings, which ClickHouse
    # parses back by column type (public input-format semantics)
    return json.dumps(row.asDict(recursive=True), default=str)


@dataclass
class ClickHouseHTTPSink:
    """foreachBatch sink applying micro-batches to ClickHouse.

    columns: (name, mysql_type, nullable) triples -- the rule's source
    schema, used only by ensure_table() to emit the auto-CREATE.
    """
    url: str
    database: str
    table: str
    columns: Sequence[tuple[str, str, bool]] = field(default_factory=list)
    pk: tuple[str, ...] = ()
    bulk_size: int = 10000
    user: str | None = None
    password: str | None = None
    # stamp each INSERT chunk with a deterministic
    # insert_deduplication_token (db.table:epoch:partition:chunk) so a
    # replayed epoch's identical chunks dedup SERVER-side (the public
    # ClickHouse insert-dedup mechanism) instead of relying solely on
    # the ReplacingMergeTree (pk, seq) collapse. Best-effort: the token
    # repeats only when the replay reproduces the same partitioning
    # (true for availableNow file replays); the (pk, seq) dedup remains
    # the correctness backstop either way.
    dedup_tokens: bool = False
    # cap on CONCURRENT insert connections per micro-batch (the
    # reference's max_open / SetMaxOpenConns,
    # clickhouse/client.go:39): partitions coalesce down to this
    # before the per-partition POST fan-out; 0 = unlimited. coalesce
    # never increases partition counts, so small batches are
    # untouched.
    max_open: int = 0
    # cumulative feed-rate counters (same contract as the native
    # sink's): rows posted and summed per-partition-connection wall,
    # accumulated executor-side, surfaced via /stat
    write_stats: dict = field(default_factory=lambda: {
        "rows_written": 0, "conn_wall_us": 0, "epochs": 0})
    # columns the sink table is known to have (drift tracking);
    # initialized lazily from `columns` or the first batch
    _known_cols: set[str] | None = field(default=None, repr=False)

    def execute(self, sql: str) -> bytes:
        """Driver-side statement (DDL, ALTER on schema drift)."""
        return _post(self.url, sql, b"", self.user, self.password)

    def ensure_table(self) -> str:
        """Run the reference's auto-CREATE (README.md:141-161) and
        return the DDL that was executed."""
        ddl = clickhouse_create_table_ddl(
            self.database, self.table, list(self.columns), self.pk)
        self.execute(ddl)
        return ddl

    def describe_columns(self) -> list[tuple[str, str]]:
        """The sink table's CURRENT (name, ClickHouse type) pairs,
        from system.columns -- the introspection --retype keys its
        String-fallback detection on."""
        body = self.execute(
            f"SELECT name, type FROM system.columns WHERE database = "
            f"'{self.database}' AND table = '{self.table}' "
            f"ORDER BY position FORMAT TabSeparated")
        out = []
        for line in body.decode().splitlines():
            if line.strip():
                name, typ = line.split("\t")[:2]
                out.append((name, typ))
        return out

    def ensure_columns(self, batch_df: DataFrame) -> list[str]:
        """Schema-drift handling (the reference re-introspects the
        source on OnTableChanged, river/sync.go:54-60): columns that
        appear mid-stream are added to the sink with ALTER TABLE ADD
        COLUMN before the batch INSERT. New columns default to
        Nullable(String) -- the reference's fallback mapping -- unless
        a (name, mysql_type, nullable) triple was provided up front.
        Returns the DDL statements executed (for logging/tests)."""
        if self._known_cols is None:
            self._known_cols = ({c[0] for c in self.columns}
                                if self.columns else set(batch_df.columns))
        typed = {c[0]: (c[1], c[2]) for c in self.columns}
        ddls = []
        for c in batch_df.columns:
            if c in self._known_cols:
                continue
            mtype, nullable = typed.get(c, ("text", True))
            from ..functions.typemap import mysql_to_clickhouse_type
            ddls.append(
                f"ALTER TABLE `{self.database}`.`{self.table}` "
                f"ADD COLUMN IF NOT EXISTS `{c}` "
                f"{mysql_to_clickhouse_type(mtype, nullable)}")
            self._known_cols.add(c)
        for ddl in ddls:
            self.execute(ddl)
        return ddls

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch target: INSERT the micro-batch as JSONEachRow
        chunks of bulk_size, posted per-partition from the executors.
        foreachBatch serializes epochs, so batches land in epoch order;
        within an epoch partitions post in parallel (the sink table's
        (pk, seq) dedup makes intra-epoch order irrelevant, exactly as
        with the parquet changelog sink)."""
        self.ensure_columns(batch_df)
        cols = ", ".join(f"`{c}`" for c in batch_df.columns)
        insert_sql = (f"INSERT INTO `{self.database}`.`{self.table}` "
                      f"({cols}) FORMAT JSONEachRow")
        url, user, password = self.url, self.user, self.password
        bulk = self.bulk_size
        token_prefix = (f"{self.database}.{self.table}:{epoch_id}"
                        if self.dedup_tokens else None)
        if self.max_open > 0:
            batch_df = batch_df.coalesce(self.max_open)
        sc = batch_df.sparkSession.sparkContext
        rows_acc = sc.accumulator(0)
        wall_acc = sc.accumulator(0)

        def send_partition(rows) -> None:
            import time as _time
            t0 = _time.monotonic()
            n_rows = 0
            if token_prefix is not None:
                from pyspark import TaskContext
                ctx = TaskContext.get()
                pid = ctx.partitionId() if ctx is not None else 0
            chunk = 0
            buf: list[str] = []

            def flush() -> None:
                nonlocal chunk
                params = (
                    {"insert_deduplication_token":
                     f"{token_prefix}:{pid}:{chunk}"}
                    if token_prefix is not None else None)
                _post(url, insert_sql, ("\n".join(buf) + "\n").encode(),
                      user, password, params=params)
                buf.clear()
                chunk += 1

            for row in rows:
                buf.append(_row_to_json(row))
                n_rows += 1
                if len(buf) >= bulk:
                    flush()
            if buf:
                flush()
            rows_acc.add(n_rows)
            wall_acc.add(int((_time.monotonic() - t0) * 1e6))

        batch_df.foreachPartition(send_partition)
        self.write_stats["rows_written"] += rows_acc.value
        self.write_stats["conn_wall_us"] += wall_acc.value
        self.write_stats["epochs"] += 1
