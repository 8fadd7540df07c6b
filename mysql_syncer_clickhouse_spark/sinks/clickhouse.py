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
- The --checksum half of the wire: `digest()` runs the server-resident
  bucket aggregate as TabSeparated, `read_back()` is the symmetric
  distributed read (one task per hash slice, JSONEachRow parsed
  executor-side; binary columns ride as hex), and `execute_repairs()`
  runs the repair SQL, rewriting binary re-INSERTs to VALUES/unhex.

Transport is stdlib urllib (the documented public HTTP protocol,
default port 8123): no driver library needed. Point `url` at a real
server (`http://host:8123`) -- tests run against a local fake that
records requests (tests/test_clickhouse_sink.py); there is no live
ClickHouse in this sandbox.
"""

from __future__ import annotations

import base64
import json
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import ClickHouseTable


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


def _coercer(dt: T.DataType):
    """JSON value -> Spark-compatible Python value for one field of
    the read-back. Arrays and maps recurse (JSONEachRow round-trips
    them as JSON lists/objects).  64-bit integers may arrive quoted
    (output_format_json_quote_64bit_integers=1); DateTime renders in
    SERVER timezone.  Binary columns arrive as HEX: JSON cannot carry
    arbitrary bytes, so the read-back SELECT renders them `hex(col)`
    (the same injective engine-neutral encoding the digest canonical
    uses) and the coercer decodes -- which is what lets --deep drill
    into binary columns over HTTP, not just native."""
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                       T.ByteType)):
        return lambda v: None if v is None else int(v)
    if isinstance(dt, T.DecimalType):
        return lambda v: None if v is None else Decimal(str(v))
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return lambda v: None if v is None else float(v)
    if isinstance(dt, T.BooleanType):
        return lambda v: None if v is None else bool(v)
    if isinstance(dt, T.DateType):
        return lambda v: None if v is None else date.fromisoformat(v)
    if isinstance(dt, T.TimestampType):
        return (lambda v: None if v is None
                else datetime.fromisoformat(v))
    if isinstance(dt, T.StringType):
        return lambda v: None if v is None else str(v)
    if isinstance(dt, T.ArrayType):
        elem = _coercer(dt.elementType)
        return (lambda v: None if v is None
                else [elem(x) for x in v])
    if isinstance(dt, T.MapType):
        key = _coercer(dt.keyType)
        val = _coercer(dt.valueType)
        return (lambda v: None if v is None
                else {key(k): val(x) for k, x in v.items()})
    if isinstance(dt, T.BinaryType):
        return (lambda v: None if v is None
                else bytearray(bytes.fromhex(v)))
    raise ValueError(
        f"ClickHouseHTTPSink.read_back: unsupported read-back type {dt}")


def _values_literal(v, binary: bool = False) -> str:
    """ONE JSON-payload value as a ClickHouse VALUES literal.  The
    payload is to_json output, so the type space is JSON's (str/num/
    bool/null/list/dict) plus base64 for binary."""
    if v is None:
        return "NULL"
    if binary:
        return f"unhex('{base64.b64decode(v).hex().upper()}')"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, list):
        return "[" + ", ".join(_values_literal(x) for x in v) + "]"
    if isinstance(v, dict):
        return ("map(" + ", ".join(
            f"{_values_literal(k)}, {_values_literal(x)}"
            for k, x in v.items()) + ")")
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _values_insert(statement: str, database: str, table: str,
                   bin_cols: set) -> str:
    """Rewrite a `INSERT ... FORMAT JSONEachRow {..}` repair statement
    as `INSERT INTO t (cols) VALUES (..)` with unhex() for binary
    columns -- the HTTP-executable form for payloads JSON cannot
    carry as bytes."""
    payload = json.loads(
        statement.split("FORMAT JSONEachRow ", 1)[1])
    names = list(payload)
    cols = ", ".join(f"`{n}`" for n in names)
    vals = ", ".join(
        _values_literal(payload[n], binary=n in bin_cols)
        for n in names)
    return (f"INSERT INTO `{database}`.`{table}` ({cols}) "
            f"VALUES ({vals})")


@dataclass
class ClickHouseHTTPSink(ClickHouseTable):
    """foreachBatch sink applying micro-batches to ClickHouse, and the
    HTTP wire's one client for --apply-ddl, --retype and --checksum.

    columns: (name, mysql_type, nullable) triples -- the rule's source
    schema, used by ensure_table() to emit the auto-CREATE.
    """
    kind = "http"
    errors = (urllib.error.HTTPError, urllib.error.URLError, OSError)

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
        """Driver-side statement (DDL, ALTER on schema drift, repair)."""
        return _post(self.url, sql, b"", self.user, self.password)

    def _select(self, sql: str) -> list[list[str]]:
        body = self.execute(f"{sql} FORMAT TabSeparated")
        return [line.split("\t") for line in body.decode().splitlines()
                if line.strip()]

    def digest(self, columns, pk_cols, n_buckets, *, final,
               binary_cols, sample) -> list[dict]:
        """The server-resident bucket digest (operators/syncverify.py)
        as TabSeparated rows."""
        from ..operators import syncverify as sv
        return sv.parse_digest_tsv(self.execute(sv.clickhouse_digest_sql(
            self.database, self.table, columns, pk_cols, n_buckets,
            final=final, binary_cols=binary_cols, sample=sample)))

    def read_back(self, spark, schema: T.StructType, split_expr: str,
                  n_splits: int, *, split_values=None,
                  final: bool = False) -> DataFrame:
        """Read the table back as a DataFrame with `schema`: one Spark
        task per split id, each posting `SELECT <cols> FROM t [FINAL]
        WHERE <split_expr> = i FORMAT JSONEachRow` and parsing its own
        slice executor-side -- the driver never sees a row. Each
        slice is a server-side scan unless `split_expr` matches the
        table's ORDER BY prefix, so prefer more slices over one dump."""
        cols = ", ".join(
            f"hex(`{f.name}`) AS `{f.name}`"
            if isinstance(f.dataType, T.BinaryType) else f"`{f.name}`"
            for f in schema.fields)
        head = (f"SELECT {cols} FROM `{self.database}`.`{self.table}`"
                f"{' FINAL' if final else ''} WHERE ({split_expr}) = ")
        names = [f.name for f in schema.fields]
        coercers = {f.name: _coercer(f.dataType) for f in schema.fields}
        url, user, password = self.url, self.user, self.password

        def fetch(batches):
            import pandas as pd
            for pdf in batches:
                for i in pdf["id"]:
                    body = _post(url, f"{head}{int(i)} FORMAT JSONEachRow",
                                 b"", user, password, timeout=120)
                    rows = [json.loads(line)
                            for line in body.decode().splitlines()
                            if line.strip()]
                    data = {n: [coercers[n](r.get(n)) for r in rows]
                            for n in names}
                    yield pd.DataFrame(data, columns=names, dtype=object)

        return self._split_ids(spark, n_splits, split_values).mapInPandas(
            fetch, schema=schema)

    def execute_repairs(self, stmts: list[dict], columns,
                        spark_schema) -> None:
        """`stmts` from syncverify.repair_statements: the emitted SQL
        text IS this wire's executable form -- EXCEPT re-INSERTs
        touching binary columns.  The diff's JSON payload renders
        binary as base64 (Spark to_json), and JSONEachRow would store
        that base64 TEXT into the column -- silent corruption.  Those
        inserts rewrite to `INSERT ... VALUES` with `unhex('..')` for
        the binary columns (the VALUES format evaluates expressions),
        which round-trips the raw bytes over HTTP."""
        bin_cols = {f.name for f in spark_schema.fields
                    if isinstance(f.dataType, T.BinaryType)}
        for stmt in stmts:
            statement = stmt.get("statement")
            if not statement:
                continue
            if bin_cols and statement.startswith("INSERT"):
                statement = _values_insert(
                    statement, self.database, self.table, bin_cols)
            self.execute(statement)

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
