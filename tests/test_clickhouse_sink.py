"""ClickHouse HTTP sink: DDL + bulk INSERT ordering against a local
fake ClickHouse (a recording HTTP server -- real transport, no live
server in this sandbox). Mirrors the reference's apply contract
(clickhouse/client.go:77-233): CREATE first, then epoch-ordered bulk
inserts."""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from mysql_syncer_clickhouse_spark.sinks.clickhouse import (
    ClickHouseHTTPSink)
from mysql_syncer_clickhouse_spark.streaming.pipeline import start_stream
from tests.test_streaming import (
    ROWS_PART1, ROWS_PART2, SCHEMA_DDL, _write_part)

COLUMNS = [("seq", "bigint", False), ("op", "varchar(16)", True),
           ("id", "bigint", False), ("title", "varchar(64)", True),
           ("mydate", "bigint", True)]


class _FakeClickHouse:
    """Records every (query, body) the sink posts. Thread-safe: local
    executors post partitions concurrently."""

    def __init__(self) -> None:
        self.requests: list[tuple[str, str]] = []
        # non-query settings per request (insert_deduplication_token
        # etc.), index-aligned with `requests`
        self.params: list[dict[str, str]] = []
        # optional canned body for SELECT queries (system.columns
        # introspection -- describe_columns/--retype tests)
        self.select_response: bytes = b""
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):                   # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode()
                qs = parse_qs(urlparse(self.path).query)
                query = qs.get("query", [""])[0]
                with outer._lock:
                    outer.requests.append((query, body))
                    outer.params.append({k: v[0] for k, v in qs.items()
                                         if k != "query"})
                resp = (outer.select_response
                        if query.lstrip().upper().startswith("SELECT")
                        else b"")
                self.send_response(200)
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                if resp:
                    self.wfile.write(resp)

            def log_message(self, *a):
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self._httpd.server_address[1]}"
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._httpd.shutdown()
        self._httpd.server_close()


@pytest.fixture()
def fake_ch():
    srv = _FakeClickHouse().start()
    yield srv
    srv.stop()


def _sink(url, bulk_size=10000):
    return ClickHouseHTTPSink(url=url, database="olap", table="items_sink",
                              columns=COLUMNS, pk=("id",),
                              bulk_size=bulk_size)


def test_ensure_table_executes_auto_create(fake_ch):
    ddl = _sink(fake_ch.url).ensure_table()
    assert fake_ch.requests == [(ddl, "")]
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS `olap`.`items_sink`")
    assert ddl.endswith("ENGINE = ReplacingMergeTree ORDER BY (`id`)")


def test_stream_applies_ddl_then_epoch_ordered_bulk_inserts(spark, fake_ch,
                                                            tmp_path):
    """Drain two source files at one file per trigger: the fake must
    see the CREATE first, then INSERTs whose seq sets arrive in epoch
    order (file 1's rows strictly before file 2's)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_part(spark, src, ROWS_PART1, "p1")
    _write_part(spark, src, ROWS_PART2, "p2")
    schema = spark.createDataFrame([], SCHEMA_DDL).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    sink = _sink(fake_ch.url)
    sink.ensure_table()
    q = start_stream(stream, sink.apply_batch, str(tmp_path / "ckpt"))
    q.awaitTermination()

    assert fake_ch.requests[0][0].startswith("CREATE TABLE IF NOT EXISTS")
    inserts = fake_ch.requests[1:]
    assert all(i[0].startswith(
        "INSERT INTO `olap`.`items_sink` (`seq`, `op`, `id`, `title`, "
        "`mydate`) FORMAT JSONEachRow") for i in inserts)
    seq_batches = [
        {json.loads(line)["seq"] for line in body.strip().splitlines()}
        for _, body in inserts]
    applied = [s for batch in seq_batches for s in sorted(batch)]
    assert sorted(applied) == [1, 2, 3, 4, 5, 6]
    # epoch order: every seq of file 1 applied before any of file 2
    first_epoch_end = max(i for i, s in enumerate(applied) if s <= 3)
    assert all(s > 3 for s in applied[first_epoch_end + 1:])


def test_schema_drift_alters_before_insert(spark, fake_ch):
    """A column appearing mid-stream (ADD COLUMN upstream) must emit
    ALTER TABLE ADD COLUMN on the sink BEFORE that batch's INSERT --
    the reference's OnTableChanged re-introspection analog. Unknown
    columns default to Nullable(String), the reference's fallback."""
    sink = _sink(fake_ch.url)
    df1 = spark.createDataFrame(ROWS_PART1, SCHEMA_DDL).coalesce(1)
    sink.apply_batch(df1, epoch_id=0)
    df2 = (spark.createDataFrame(ROWS_PART2, SCHEMA_DDL)
           .withColumn("note", __import__("pyspark").sql.functions.lit("x"))
           .coalesce(1))
    sink.apply_batch(df2, epoch_id=1)

    queries = [q for q, _ in fake_ch.requests]
    alter = [i for i, q in enumerate(queries) if q.startswith("ALTER")]
    assert alter, queries
    assert queries[alter[0]] == (
        "ALTER TABLE `olap`.`items_sink` ADD COLUMN IF NOT EXISTS "
        "`note` Nullable(String)")
    # the ALTER lands after epoch-0 inserts and before epoch-1 inserts
    note_inserts = [i for i, (q, _) in enumerate(fake_ch.requests)
                    if "`note`" in q and q.startswith("INSERT")]
    assert note_inserts and min(note_inserts) > alter[0]
    assert all(i < alter[0] for i, (q, _) in enumerate(fake_ch.requests)
               if q.startswith("INSERT") and "`note`" not in q)


def test_bulk_size_chunks_inserts(spark, fake_ch):
    """bulk_size caps rows per INSERT request (the reference's
    bulk_size knob): 6 rows at bulk_size=2 -> 3+ INSERT posts, none
    exceeding 2 rows."""
    df = spark.createDataFrame(ROWS_PART1 + ROWS_PART2, SCHEMA_DDL) \
        .coalesce(1)
    _sink(fake_ch.url, bulk_size=2).apply_batch(df, epoch_id=0)
    bodies = [b for _, b in fake_ch.requests]
    rows_per_post = [len(b.strip().splitlines()) for b in bodies]
    assert sum(rows_per_post) == 6
    assert max(rows_per_post) <= 2


def test_debezium_to_clickhouse_end_to_end(spark, fake_ch, tmp_path):
    """The reference's whole purpose, composed in one test: a binlog
    feed (Debezium JSON-lines) streams through parse -> foreachBatch ->
    the ClickHouse HTTP sink. The fake server must see the auto-CREATE
    first, then JSONEachRow inserts carrying every envelope with its
    binlog-ordered seq."""
    import json as _json
    import os as _os

    from mysql_syncer_clickhouse_spark.sources.debezium import (
        read_debezium_stream)
    from tests.test_debezium import LINES_P1, ROW_DDL, _write_lines

    src = str(tmp_path / "dbz"); _os.makedirs(src)
    _write_lines(src, "p1.jsonl", LINES_P1)
    sink = ClickHouseHTTPSink(
        url=fake_ch.url, database="olap", table="items_sink",
        columns=[("seq", "bigint", False), ("ts", "timestamp", True),
                 ("op", "varchar(8)", True), ("id", "bigint", False),
                 ("title", "varchar(64)", True),
                 ("mydate", "bigint", True)],
        pk=("id",))
    stream = read_debezium_stream(spark, src, ROW_DDL)
    sink.ensure_table()
    q = start_stream(stream, sink.apply_batch, str(tmp_path / "ckpt"))
    q.awaitTermination()

    queries = [r[0] for r in fake_ch.requests]
    assert queries[0].startswith("CREATE TABLE"), queries[0]
    assert "ReplacingMergeTree" in queries[0]
    inserts = [(qr, body) for qr, body in fake_ch.requests
               if qr.startswith("INSERT")]
    rows = [_json.loads(line)
            for _, body in inserts for line in body.strip().splitlines()]
    assert len(rows) == 3                      # one row per envelope
    by_id = {}
    for r in sorted(rows, key=lambda r: r["seq"]):
        by_id[r["id"]] = r                     # last-by-seq wins
    assert by_id[1]["title"] == "first-edited"
    assert by_id[2]["title"] == "second"
    assert {r["op"] for r in rows} == {"insert", "update"}


def test_insert_dedup_tokens_stable_across_replay(spark, fake_ch):
    """With dedup_tokens on, every INSERT chunk carries a deterministic
    insert_deduplication_token and re-applying the same epoch reissues
    the IDENTICAL token set -- the server-side exactly-once upgrade for
    epoch replays (ReplacingMergeTree (pk,seq) stays the backstop)."""
    sink = ClickHouseHTTPSink(url=fake_ch.url, database="olap",
                              table="items_sink", columns=COLUMNS,
                              pk=("id",), bulk_size=2, dedup_tokens=True)
    df = spark.createDataFrame(ROWS_PART1, SCHEMA_DDL).repartition(2)
    sink.apply_batch(df, epoch_id=7)
    first = sorted(p["insert_deduplication_token"] for p in fake_ch.params
                   if "insert_deduplication_token" in p)
    assert first and all(t.startswith("olap.items_sink:7:")
                         for t in first)
    assert len(set(first)) == len(first)     # unique per chunk

    n_before = len(fake_ch.params)
    sink.apply_batch(df, epoch_id=7)         # replayed epoch
    replay = sorted(p["insert_deduplication_token"]
                    for p in fake_ch.params[n_before:]
                    if "insert_deduplication_token" in p)
    assert replay == first

    # tokens off -> no setting attached
    plain = ClickHouseHTTPSink(url=fake_ch.url, database="olap",
                               table="items_sink", columns=COLUMNS,
                               pk=("id",))
    n = len(fake_ch.params)
    plain.apply_batch(df, epoch_id=8)
    assert all("insert_deduplication_token" not in p
               for p in fake_ch.params[n:])


def test_http_sink_feed_rate_counters_advance(spark, fake_ch):
    """The HTTP sink carries the same write_stats contract as the
    native sink (rows posted, summed per-partition wall, epochs) --
    SyncMetrics/StatusServer read it duck-typed."""
    sink = _sink(fake_ch.url)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    sink.apply_batch(df1, epoch_id=0)
    s1 = dict(sink.write_stats)
    assert s1["rows_written"] == 2 and s1["epochs"] == 1
    assert s1["conn_wall_us"] > 0
    sink.apply_batch(df1, epoch_id=1)
    assert sink.write_stats["rows_written"] == 4
    assert sink.write_stats["epochs"] == 2
    assert sink.write_stats["conn_wall_us"] > s1["conn_wall_us"]


def test_max_open_caps_concurrent_insert_connections(spark, fake_ch):
    """The reference's max_open / SetMaxOpenConns
    (clickhouse/client.go:39): each insert partition opens one
    connection, so the sink coalesces the batch down to max_open
    partitions first -- an 8-partition batch lands as at most 2
    INSERT posts. 0 (default) leaves partitioning alone."""
    sink = ClickHouseHTTPSink(url=fake_ch.url, database="olap",
                              table="items_sink", columns=COLUMNS,
                              pk=("id",), max_open=2)
    df = spark.createDataFrame(
        [(i, "insert", i, f"t{i}", None) for i in range(64)],
        "seq long, op string, id long, title string, mydate long"
    ).repartition(8)
    sink.apply_batch(df, epoch_id=0)
    inserts = [q for q, _ in fake_ch.requests if q.startswith("INSERT")]
    assert 1 <= len(inserts) <= 2
    rows = sum(len([ln for ln in b.splitlines() if ln.strip()])
               for q, b in fake_ch.requests if q.startswith("INSERT"))
    assert rows == 64
