"""/stat observability endpoint (river/status.go:49-68 analog) and
ClickHouse auto-CREATE DDL emission (reference README.md:141-266)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from mysql_syncer_clickhouse_spark.functions.typemap import (
    clickhouse_create_table_ddl, mysql_to_clickhouse_type)
from mysql_syncer_clickhouse_spark.streaming.pipeline import SyncMetrics
from mysql_syncer_clickhouse_spark.streaming.status import StatusServer


def test_stat_endpoint_serves_counters():
    m = SyncMetrics()
    m.record_counts({"insert": 5, "update": 2, "delete": 0})
    m.record_counts({"insert": 1})
    srv = StatusServer(m, port=0, extra={"position": "mysql-bin.000002:9"})
    srv.start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stat", timeout=5) as r:
            assert r.status == 200
            body = json.loads(r.read())
        assert body["counts"] == {"insert": 6, "update": 2}
        assert body["position"] == "mysql-bin.000002:9"
        # unknown path -> 404
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/nope", timeout=5)
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()


def test_stat_serves_live_position_advancing_across_epochs(spark, tmp_path):
    """The /stat position must be LIVE (read_binlog analog,
    river/status.go:27-40): it reflects the max applied seq and
    advances as later epochs apply -- not a static string."""
    import os

    from mysql_syncer_clickhouse_spark.plans.rules import Rule
    from mysql_syncer_clickhouse_spark.streaming.pipeline import (
        StreamingSyncPipeline)
    from tests.test_streaming import (
        ROWS_PART1, ROWS_PART2, SCHEMA_DDL, _drain, _write_part)

    src = str(tmp_path / "src")
    os.makedirs(src)
    rule = Rule(source_schema="app", source_table="items",
                sink_schema="olap", sink_table="items_sink", pk=("id",))
    pipe = StreamingSyncPipeline(rule, ["id"], str(tmp_path / "sink"),
                                 str(tmp_path / "ckpt"))
    schema = spark.createDataFrame([], SCHEMA_DDL).schema
    srv = StatusServer(pipe.metrics, port=0)
    srv.start()
    try:
        def stat():
            with urllib.request.urlopen(
                    f"http://127.0.0.1:{srv.port}/stat", timeout=5) as r:
                return json.loads(r.read())

        assert "position" not in stat()          # nothing applied yet
        _write_part(spark, src, ROWS_PART1, "p1")
        _drain(pipe, spark, src, schema)
        s1 = stat()
        assert s1["position"]["applied_seq"] == 3
        _write_part(spark, src, ROWS_PART2, "p2")
        _drain(pipe, spark, src, schema)   # resume, next epoch
        s2 = stat()
        assert s2["position"]["applied_seq"] == 6
        assert s2["position"]["applied_epoch"] > s1["position"]["applied_epoch"]
        assert s2["counts"] == {"insert": 3, "update": 2, "delete": 1}
    finally:
        srv.stop()


def test_stacks_endpoint_dumps_thread_stacks():
    """/stacks is the /debug/pprof analog (river/status.go:64): every
    live driver thread's current Python stack, keyed by thread name."""
    import threading

    m = SyncMetrics()
    srv = StatusServer(m, port=0)
    srv.start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stacks", timeout=5) as r:
            stacks = json.loads(r.read())
        me = threading.current_thread()
        mine = [k for k in stacks if k.endswith(f"-{me.ident}")]
        assert mine and any("test_stacks_endpoint" in line
                            for line in stacks[mine[0]])
    finally:
        srv.stop()


def test_stat_serves_query_progress_callable():
    """`progress` is evaluated per request -- serve whatever the
    StreamingQuery.lastProgress dict currently says."""
    state = {"batchId": 0}
    m = SyncMetrics()
    srv = StatusServer(m, port=0, progress=lambda: dict(state))
    srv.start()
    try:
        def stat():
            with urllib.request.urlopen(
                    f"http://127.0.0.1:{srv.port}/stat", timeout=5) as r:
                return json.loads(r.read())
        assert stat()["progress"] == {"batchId": 0}
        state["batchId"] = 7                     # query advanced
        assert stat()["progress"] == {"batchId": 7}
    finally:
        srv.stop()


def test_clickhouse_type_mapping():
    cases = {
        "int unsigned": "UInt32",
        "bigint": "Int64",
        "bigint unsigned": "UInt64",
        "tinyint": "Int8",
        "year": "Int16",
        "bit(1)": "Int64",
        "float": "Float32",
        "double": "Float64",
        "date": "Date",
        "datetime": "DateTime",
        "datetime(3)": "DateTime64(3)",
        "timestamp(6)": "DateTime64(6)",
        "decimal(12,4)": "Decimal(12,4)",
        # reference README.md:233-258: its driver binds at most
        # Decimal64, so M>18 falls back to String
        "decimal(20,4)": "String",
        # bare decimal is MySQL's decimal(10,0)
        "decimal": "Decimal(10,0)",
        "varchar(255)": "String",
        "json": "String",
        "enum('a','b')": "String",
    }
    for mysql, ch in cases.items():
        assert mysql_to_clickhouse_type(mysql) == ch, mysql
    assert mysql_to_clickhouse_type("int", nullable=True) == "Nullable(Int32)"


def test_create_table_ddl_orders_by_pk_and_wraps_nullable():
    ddl = clickhouse_create_table_ddl(
        "olap", "items_sink",
        columns=[("id", "bigint", True),         # PK: forced non-Nullable
                 ("title", "varchar(64)", True),
                 ("qty", "int unsigned", False)],
        pk=("id",))
    assert ddl == (
        "CREATE TABLE IF NOT EXISTS `olap`.`items_sink` "
        "(`id` Int64, `title` Nullable(String), `qty` UInt32) "
        "ENGINE = ReplacingMergeTree ORDER BY (`id`)")


def test_create_table_ddl_empty_pk_spells_tuple():
    """ClickHouse rejects `ORDER BY ()`; the empty sort key is spelled
    `ORDER BY tuple()`."""
    ddl = clickhouse_create_table_ddl(
        "olap", "log", columns=[("msg", "text", True)], pk=())
    assert ddl.endswith("ENGINE = ReplacingMergeTree ORDER BY tuple()")


def test_metrics_endpoint_prometheus_format():
    """/metrics serves the counters + applied position in the
    Prometheus text exposition format (scrapable without a client
    library), alongside the JSON /stat."""
    import urllib.request

    from mysql_syncer_clickhouse_spark.streaming.pipeline import SyncMetrics
    from mysql_syncer_clickhouse_spark.streaming.status import StatusServer

    m = SyncMetrics()
    m.record_counts({"insert": 5, "update": 2, "delete": 1})
    m.applied_seq, m.applied_epoch = 42, 3
    srv = StatusServer(m, port=0).start()
    try:
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics").read().decode()
    finally:
        srv.stop()
    assert '# TYPE sync_ops_total counter' in body
    assert 'sync_ops_total{op="insert"} 5' in body
    assert 'sync_ops_total{op="update"} 2' in body
    assert 'sync_ops_total{op="delete"} 1' in body
    assert "sync_applied_seq 42" in body
    assert "sync_applied_epoch 3" in body


def test_lsh_cap_metrics_surface_on_stat_endpoint(spark):
    """VERDICT r6 #6: a capped LSH run REPORTS its recall concession
    operationally -- the cap's observe() metrics harvest into
    SyncMetrics and appear on /stat (JSON) and /metrics (Prometheus)
    exactly like the op counters."""
    from pyspark.sql import Observation

    from mysql_syncer_clickhouse_spark.operators import dedup

    # planted hot bucket: 500 ids in one (band, band_sig) bucket
    rows = [(i, 0, 42) for i in range(500)] + [(600, 1, 99), (601, 1, 99)]
    bands = spark.createDataFrame(rows, "id long, band int, band_sig long")
    obs = Observation()
    capped = dedup.lsh_candidate_pairs(bands, bucket_cap=50,
                                       cap_observation=obs)
    assert capped.count() == 50 * 49 // 2 + 1   # the action obs rides

    m = SyncMetrics()
    got = dedup.record_lsh_cap_metrics(obs, m)
    assert got["rows_dropped"] == 450 and got["max_bucket_size"] == 500

    srv = StatusServer(m, port=0).start()
    try:
        stat = json.loads(urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/stat", timeout=5).read())
        assert stat["counts"]["lsh_bucket_cap_rows_dropped"] == 450
        assert stat["counts"]["lsh_bucket_cap_max_bucket_size"] == 500
        prom = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics", timeout=5
        ).read().decode()
        assert 'sync_ops_total{op="lsh_bucket_cap_rows_dropped"} 450' \
            in prom
    finally:
        srv.stop()

    # a second capped run ACCUMULATES drops and keeps the high-water
    # bucket size
    obs2 = Observation()
    dedup.lsh_candidate_pairs(bands, bucket_cap=100,
                              cap_observation=obs2).count()
    dedup.record_lsh_cap_metrics(obs2, m)
    assert m.counts["lsh_bucket_cap_rows_dropped"] == 450 + 400
    assert m.counts["lsh_bucket_cap_max_bucket_size"] == 500


def test_metrics_record_event_ts_semantics():
    """Replication-lag bookkeeping: datetime and epoch inputs advance
    the event clock monotonically, a payload column merely NAMED ts
    (string) is ignored, and lag_snapshot reports apply-time latency
    plus staleness."""
    import datetime as dt
    import time

    from mysql_syncer_clickhouse_spark.streaming.pipeline import (
        SyncMetrics)
    m = SyncMetrics()
    assert m.lag_snapshot() is None
    t_event = time.time() - 7.5
    m.record_event_ts(dt.datetime.fromtimestamp(t_event))
    snap = m.lag_snapshot()
    assert 7.0 < snap["apply_lag_seconds"] < 8.5
    assert 0 <= snap["since_last_apply_seconds"] < 2
    # monotonic: an older replayed ts cannot move the clock back
    m.record_event_ts(t_event - 100)
    assert m.applied_event_ts == pytest.approx(t_event, abs=1e-3)
    # newer epoch-number input advances it
    m.record_event_ts(t_event + 5)
    assert m.applied_event_ts == pytest.approx(t_event + 5, abs=1e-3)
    # junk named ts is ignored, not fatal
    m.record_event_ts("not-a-time")
    assert m.applied_event_ts == pytest.approx(t_event + 5, abs=1e-3)
    # ADVICE r13: a Debezium ts_ms MILLISECOND epoch normalizes to
    # seconds instead of reading as year ~55000 (which made the lag
    # gauge a huge negative)
    m.record_event_ts((t_event + 6) * 1000)
    assert m.applied_event_ts == pytest.approx(t_event + 6, abs=1e-2)
    assert m.lag_snapshot()["apply_lag_seconds"] > 0


def test_stat_serves_replication_lag(spark, tmp_path):
    """A ts-bearing changelog lights up /stat's lag block and the
    /metrics gauges; the ts-less fixture (other tests) never does."""
    import datetime as dt
    import os
    import time

    from mysql_syncer_clickhouse_spark.plans.rules import Rule
    from mysql_syncer_clickhouse_spark.streaming.pipeline import (
        StreamingSyncPipeline)
    from tests.test_streaming import _drain

    src = str(tmp_path / "src")
    os.makedirs(src)
    now = time.time()
    rows = [
        (1, dt.datetime.fromtimestamp(now - 30), "insert", 1, "a"),
        (2, dt.datetime.fromtimestamp(now - 12), "update", 1, "b"),
    ]
    df = spark.createDataFrame(
        rows, "seq long, ts timestamp, op string, id long, v string")
    df.coalesce(1).write.mode("append").parquet(src)
    rule = Rule(source_schema="app", source_table="t",
                sink_schema="olap", sink_table="t", pk=("id",))
    pipe = StreamingSyncPipeline(rule, ["id"], str(tmp_path / "sink"),
                                 str(tmp_path / "ckpt"))
    srv = StatusServer(pipe.metrics, port=0)
    srv.start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stat", timeout=5) as r:
            assert "lag" not in json.loads(r.read())
        _drain(pipe, spark, src, df.schema)
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stat", timeout=5) as r:
            lag = json.loads(r.read())["lag"]
        # newest applied event is ~12s old; the apply just happened
        assert 10 < lag["apply_lag_seconds"] < 60
        assert lag["since_last_apply_seconds"] < 30
        assert lag["last_event_ts"] == pytest.approx(now - 12, abs=1.0)
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/metrics", timeout=5) as r:
            text = r.read().decode()
        assert "sync_apply_lag_seconds " in text
        assert "sync_since_last_apply_seconds " in text
    finally:
        srv.stop()


def test_aggregated_lag_is_worst_rule(spark):
    """The CLI's fleet /stat reports the MOST-BEHIND rule's lag and
    the FRESHEST apply staleness."""
    import time

    from mysql_syncer_clickhouse_spark.__main__ import (
        _AggregatedMetrics)
    from mysql_syncer_clickhouse_spark.plans.rules import Rule
    from mysql_syncer_clickhouse_spark.streaming.pipeline import (
        StreamingSyncPipeline)

    now = time.time()
    pipes = []
    for behind in (5, 90):
        rule = Rule(source_schema="a", source_table=f"t{behind}",
                    sink_schema="a", sink_table=f"t{behind}", pk=("id",))
        p = StreamingSyncPipeline(rule, ["id"], "/tmp/x", "/tmp/y")
        p.metrics.record_event_ts(now - behind)
        pipes.append(p)
    agg = _AggregatedMetrics(pipes)
    lag = agg.lag_snapshot()
    assert 85 < lag["apply_lag_seconds"] < 95
    assert lag["since_last_apply_seconds"] < 5
    assert _AggregatedMetrics([]).lag_snapshot() is None


def test_metrics_serves_last_verify_gauges(tmp_path):
    """VERDICT r14 #2: the --checksum verdict reaches the SAME
    alerting pipeline as the lag pair -- /metrics gains
    sync_last_verify_age_seconds + sync_last_verify_in_sync (0/1),
    read per scrape from the persisted _checksum_last.json. No file
    -> no gauges (never verified is itself the signal: absence of
    the series alerts via `absent()`)."""
    import time

    m = SyncMetrics()
    srv = StatusServer(m, port=0,
                       verify_file=str(tmp_path / "v.json")).start()
    try:
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics",
            timeout=5).read().decode()
        assert "sync_last_verify" not in body     # never verified

        (tmp_path / "v.json").write_text(json.dumps(
            {"ts": time.time() - 30, "out_of_sync": [],
             "rules": {"app:items": {"in_sync": True}}}))
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics",
            timeout=5).read().decode()
        assert "# TYPE sync_last_verify_age_seconds gauge" in body
        age = float(next(
            line.split()[1] for line in body.splitlines()
            if line.startswith("sync_last_verify_age_seconds")))
        assert 25 <= age <= 120
        assert "sync_last_verify_in_sync 1" in body

        # a failed proof (or an errored rule) flips the gauge to 0
        (tmp_path / "v.json").write_text(json.dumps(
            {"ts": time.time(), "out_of_sync": ["app:items"],
             "rules": {"app:items": {"in_sync": False}}}))
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics",
            timeout=5).read().decode()
        assert "sync_last_verify_in_sync 0" in body
    finally:
        srv.stop()
