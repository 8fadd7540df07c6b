"""End-to-end CLI test: the reference's river.toml drives a full drain
(main.go analog) from a file changelog to merged sinks."""

from __future__ import annotations

import os

import pytest

from mysql_syncer_clickhouse_spark.__main__ import run
from mysql_syncer_clickhouse_spark.config import EngineConfig, parse_duration_ms

TOML = os.path.join(os.path.dirname(__file__), "..", "etc", "river.toml")

ROWS = [
    (1, "insert", 1, "first", 86400),
    (2, "insert", 2, "second", 86400),
    (3, "update", 1, "first-edited", 86400),
    (4, "delete", 2, None, None),
]


def test_parse_reference_config():
    cfg = EngineConfig.from_toml(TOML)
    assert cfg.bulk_size == 64
    assert cfg.flush_bulk_ms == 1
    assert cfg.threads == 10
    rule = cfg.rules.rules[0]
    assert rule.key == "app:items"
    assert rule.sink == "olap.items_sink"
    assert rule.field_mapping == {"title": "es_title"}


def test_duration_parse():
    assert parse_duration_ms("1ms") == 1
    assert parse_duration_ms("3s") == 3000
    assert parse_duration_ms("2m") == 120_000
    assert parse_duration_ms("") == 200          # code default
    assert parse_duration_ms("bogus") == 200


def test_cli_drain_and_compact(spark, tmp_path):
    changelog = tmp_path / "changelog" / "app.items"
    os.makedirs(changelog)
    df = spark.createDataFrame(
        ROWS, "seq long, op string, id long, title string, mydate long")
    df.coalesce(1).write.mode("append").parquet(str(changelog))

    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    out = run(cfg, str(tmp_path / "changelog"), compact=True, spark=spark)

    assert out == [{
        "rule": "app:items",
        "sink": f"{cfg.data_dir}/olap.items_sink",
        "rows": 1,
        "ops": {"insert": 2, "update": 1, "delete": 1},
    }]
    state = spark.read.parquet(f"{cfg.data_dir}/olap.items_sink").collect()
    assert len(state) == 1 and state[0]["es_title"] == "first-edited"


def test_cli_stat_addr_serves_aggregated_stat(spark, tmp_path):
    """river.toml's stat_addr (reference river/config.go:38) mounts the
    /stat server for the whole run: op counts summed across rules and
    the live max applied position."""
    import json
    import urllib.request

    changelog = tmp_path / "changelog" / "app.items"
    os.makedirs(changelog)
    df = spark.createDataFrame(
        ROWS, "seq long, op string, id long, title string, mydate long")
    df.coalesce(1).write.mode("append").parquet(str(changelog))

    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    cfg.stat_addr = "127.0.0.1:0"          # ephemeral port
    out = run(cfg, str(tmp_path / "changelog"), spark=spark)
    assert out[0]["stat"].startswith("http://127.0.0.1:")
    with urllib.request.urlopen(out[0]["stat"], timeout=5) as r:
        body = json.loads(r.read())
    assert body["counts"] == {"insert": 2, "update": 1, "delete": 1}
    assert body["position"]["applied_seq"] == 4


def test_cli_follow_mode_tails_new_files(spark, tmp_path):
    """--follow starts a processingTime-trigger stream: rows landed
    AFTER startup must reach the sink without a restart (the binlog
    tail analog). Stopped explicitly at the end."""
    import time
    changelog = tmp_path / "changelog" / "app.items"
    os.makedirs(changelog)
    df = spark.createDataFrame(
        ROWS[:2], "seq long, op string, id long, title string, mydate long")
    df.coalesce(1).write.mode("append").parquet(str(changelog))

    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    out = run(cfg, str(tmp_path / "changelog"), follow=True, spark=spark)
    assert out == [{"rule": "app:items", "mode": "following"}]
    try:
        sink = f"{cfg.data_dir}/olap.items_sink"
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() == 2:
                    break
            except Exception:
                pass
            time.sleep(1)
        assert spark.read.parquet(sink).count() == 2

        late = spark.createDataFrame(
            ROWS[2:3], "seq long, op string, id long, title string, mydate long")
        late.coalesce(1).write.mode("append").parquet(str(changelog))
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.read.parquet(sink).count() == 3:
                break
            time.sleep(1)
        state = spark.read.parquet(sink)
        assert state.count() == 3            # the post-start row arrived
    finally:
        for q in spark.streams.active:
            q.stop()


def test_cli_binlog_dir_drains_binlog_files(spark, tmp_path):
    """--binlog-dir: real binlog v4 FILES drain through the same
    rules/apply path (projection + rename + upsert + tombstones) as
    the parquet changelog -- the reference's own topology."""
    from mysql_syncer_clickhouse_spark.__main__ import run_binlog
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)

    cols = [BinlogColumn.bigint("id"),
            BinlogColumn.varchar("title", 80),
            BinlogColumn.bigint("mydate")]
    d = tmp_path / "binlogs"
    d.mkdir()
    w1 = BinlogFileWriter("app", "items", cols, table_id=11)
    w1.insert([[1, "first", 86400], [2, "second", 86400]])
    w1.update([([1, "first", 86400], [1, "first-edited", 86400])])
    (d / "mysql-bin.000001").write_bytes(w1.to_bytes())
    w2 = BinlogFileWriter("app", "items", cols, table_id=11)
    w2.delete([[2, "second", 86400]])
    # a foreign table the rule must NOT route
    other = BinlogFileWriter("app", "ignored",
                             [BinlogColumn.bigint("id")], table_id=12)
    other.insert([[99]])
    (d / "mysql-bin.000002").write_bytes(w2.to_bytes())
    (d / "mysql-bin.000003").write_bytes(other.to_bytes())

    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    out = run_binlog(cfg, str(d), spark=spark)
    assert out == [{
        "rule": "app:items",
        "sink": f"{cfg.data_dir}/olap.items_sink",
        "rows": 1,
        "ops": {"insert": 2, "update": 1, "delete": 1},
    }]
    state = spark.read.parquet(f"{cfg.data_dir}/olap.items_sink")
    from mysql_syncer_clickhouse_spark.operators.upsert import latest_state
    final = latest_state(state, ["id"]).collect()
    assert len(final) == 1 and final[0]["es_title"] == "first-edited"


def test_binlog_exact_rules_skip_table_discovery(spark, tmp_path,
                                                monkeypatch):
    """Exact-match rules need no (db, table) listing of the binlogs,
    so run_binlog submits no discovery decode; the same binlogs under
    a [[source]] block are listed exactly once (the wildcard
    expansion's input), which shows the probe would see it."""
    from mysql_syncer_clickhouse_spark.__main__ import run_binlog
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)

    collected = []
    frame_cls = type(spark.range(1))
    real_collect = frame_cls.collect

    def spy(self):
        collected.append(tuple(self.columns))
        return real_collect(self)

    monkeypatch.setattr(frame_cls, "collect", spy)
    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "items",
                         [BinlogColumn.bigint("id"),
                          BinlogColumn.varchar("title", 80),
                          BinlogColumn.bigint("mydate")], table_id=11)
    w.insert([[1, "first", 86400], [2, "second", 86400]])
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())

    toml = tmp_path / "exact.toml"
    toml.write_text('[[rule]]\nschema = "app"\ntable = "items"\n'
                    'id = ["id"]\n')
    cfg = EngineConfig.from_toml(str(toml))
    cfg.data_dir = str(tmp_path / "exact")
    out = run_binlog(cfg, str(d), spark=spark)
    assert [x["rows"] for x in out] == [2]
    assert ("db", "table") not in collected

    collected.clear()
    cfg = EngineConfig.from_toml(TOML)          # has a [[source]] block
    cfg.data_dir = str(tmp_path / "sources")
    out = run_binlog(cfg, str(d), spark=spark)
    assert [x["rows"] for x in out] == [2]
    assert collected.count(("db", "table")) == 1


def test_cli_sink_addr_applies_to_clickhouse_native(spark, tmp_path):
    """river.toml's sink_addr (reference river/config.go:24-27) routes
    the drain into ClickHouse over native TCP: auto-CREATE from the
    rule-projected schema, then the projected/renamed batches as
    native blocks -- no file sink touched."""
    from tests.test_clickhouse_native_sink import _FakeNativeClickHouse

    srv = _FakeNativeClickHouse().start()
    try:
        changelog = tmp_path / "changelog" / "app.items"
        os.makedirs(changelog)
        df = spark.createDataFrame(
            ROWS, "seq long, op string, id long, title string, mydate long")
        df.coalesce(1).write.mode("append").parquet(str(changelog))

        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = f"{srv.host}:{srv.port}"
        out = run(cfg, str(tmp_path / "changelog"), spark=spark)
        assert out == [{
            "rule": "app:items",
            "sink": f"clickhouse://{cfg.sink_addr}/olap.items_sink",
            "ops": {"insert": 2, "update": 1, "delete": 1},
        }]
        # DDL first, from the PROJECTED schema (es_title, no mydate
        # filter in this rule -- title renamed per rule.field)
        assert srv.queries[0].startswith(
            "CREATE TABLE IF NOT EXISTS `olap`.`items_sink`")
        assert "`es_title` Nullable(String)" in srv.queries[0]
        assert "ORDER BY (`id`)" in srv.queries[0]
        rows = [r for _, got in srv.inserts for r in got]
        assert len(rows) == len(ROWS)
        upd = [r for r in rows if r[1] == "update"][0]
        assert upd[3] == "first-edited"     # renamed column carried
        # nothing written to the file sink location
        assert not os.path.exists(f"{cfg.data_dir}/olap.items_sink")
    finally:
        srv.stop()


def test_cli_curate_mode(spark, tmp_path):
    """--curate runs the batch curation chain: dedup -> redact ->
    quality gate -> deterministic shards, printing one JSON summary."""
    from mysql_syncer_clickhouse_spark.__main__ import run_curate
    good = ("informative article with plenty of varied and reasonably "
            "long words composed thoughtfully ") * 3
    rows = [
        (1, "web", good),
        (2, "web", good),                    # exact dup -> dropped
        (3, "web", "a a a a"),               # low quality -> dropped
        (4, "web", "email x@y.org " + good),  # redacted, kept
    ]
    src = str(tmp_path / "docs")
    out = str(tmp_path / "shards")
    spark.createDataFrame(
        rows, "doc_id long, source string, text string") \
        .write.parquet(src)
    summary = run_curate(src, out, min_quality=0.5, seed=1, spark=spark)
    assert summary["docs_in"] == 4 and summary["docs_out"] == 2
    kept = spark.read.parquet(out)
    texts = {r["doc_id"]: r["text"] for r in kept.collect()}
    assert set(texts) == {1, 4}
    assert "<EMAIL>" in texts[4] and "x@y.org" not in texts[4]
    assert "quality" in kept.columns and "shuffle_key" in kept.columns


def test_cli_query_mode(capsys):
    """--query runs any registry entry and prints rows as one JSON
    line; 'list' enumerates the registry."""
    import json as _json

    from mysql_syncer_clickhouse_spark.__main__ import main
    assert main(["--query", "list"]) == 0
    listing = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "q1_pricing_summary" in listing["available"]
    assert len(listing["available"]) == 50

    assert main(["--query", "q1_pricing_summary",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_rows"] == 6
    assert {"l_returnflag", "sum_qty"} <= set(out["rows"][0])


def test_cli_query_explain(capsys):
    import json as _json

    from mysql_syncer_clickhouse_spark.__main__ import main
    assert main(["--query", "q1_pricing_summary", "--explain",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "Physical Plan" in out["plan"]
    assert "rows" not in out


def test_cli_dump_sql_bootstrap_then_binlog_upserts(spark, tmp_path):
    """--dump-sql: mysqldump snapshot bootstraps the rule's sink
    (op=insert at seq=-1 through the same project/rename path), and a
    subsequent --binlog-dir drain upserts ON TOP -- the reference's
    snapshot-then-replicate order (river/river.go:111-146)."""
    from mysql_syncer_clickhouse_spark.__main__ import run_binlog, run_dump
    from mysql_syncer_clickhouse_spark.operators.upsert import latest_state
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)

    dump = tmp_path / "snap.sql"
    dump.write_text(
        "CREATE TABLE `items` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `title` varchar(80) DEFAULT NULL,\n"
        "  `mydate` bigint DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `items` VALUES (1,'first',86400),"
        "(2,'second',86400),(5,'snap\\'s only',86400);\n")

    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    out = run_dump(cfg, str(dump), spark=spark)
    assert out[0]["mode"] == "dump"
    assert out[1]["rule"] == "app:items" and out[1]["rows"] == 3
    assert out[1]["ops"]["insert"] == 3

    cols = [BinlogColumn.bigint("id"),
            BinlogColumn.varchar("title", 80),
            BinlogColumn.bigint("mydate")]
    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "items", cols, table_id=11)
    w.update([([1, "first", 86400], [1, "first-edited", 86400])])
    w.delete([[2, "second", 86400]])
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())
    run_binlog(cfg, str(d), spark=spark)

    state = spark.read.parquet(f"{cfg.data_dir}/olap.items_sink")
    final = {r["id"]: r["es_title"]
             for r in latest_state(state, ["id"]).collect()}
    # snapshot sorts under the changes: 1 edited, 2 deleted, 5 kept
    assert final == {1: "first-edited", 5: "snap's only"}


def test_cli_dump_exec_spawns_mysqldump_and_bootstraps(spark, tmp_path):
    """--dump-exec (r9 VERDICT ask #3): the CLI EXECUTES mysqldump --
    here a stub executable that records its argv and emits golden dump
    text with a --master-data CHANGE MASTER comment -- and bootstraps
    through the same path as --dump-sql: final state equal, argv
    carries the rule's schema+table selection (river/river.go:126-146's
    one-schema shrink), password via MYSQL_PWD not argv, and the
    captured binlog position surfaces for --tail @dump composition."""
    import stat
    import sys

    from mysql_syncer_clickhouse_spark.__main__ import run_dump, run_dump_exec
    from mysql_syncer_clickhouse_spark.operators.upsert import latest_state

    dump_text = (
        "-- MySQL dump 10.13\\n\n"
        "-- CHANGE MASTER TO MASTER_LOG_FILE='mysql-bin.000007', "
        "MASTER_LOG_POS=1543;\n"
        "CREATE TABLE `items` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `title` varchar(80) DEFAULT NULL,\n"
        "  `mydate` bigint DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `items` VALUES (1,'first',86400),"
        "(2,'second',86400),(5,'exec\\'s only',86400);\n")
    golden = tmp_path / "golden.sql"
    golden.write_text(dump_text)
    argv_log = tmp_path / "argv.json"
    stub = tmp_path / "mysqldump"
    stub.write_text(
        f"#!{sys.executable}\n"
        "import json, os, sys\n"
        f"json.dump({{'argv': sys.argv[1:], "
        f"'pwd_env': os.environ.get('MYSQL_PWD')}}, "
        f"open({str(argv_log)!r}, 'w'))\n"
        f"sys.stdout.write(open({str(golden)!r}).read())\n")
    stub.chmod(stub.stat().st_mode | stat.S_IEXEC)

    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    cfg.source_addr = "dbhost:3307"
    cfg.source_user, cfg.source_pass = "syncer", "hunter2"
    out = run_dump_exec(cfg, str(stub), spark=spark)
    assert out[0]["mode"] == "dump-exec"
    assert out[0]["binlog_file"] == "mysql-bin.000007"
    assert out[0]["binlog_pos"] == 1543
    assert out[1]["rule"] == "app:items" and out[1]["rows"] == 3

    import json as _json
    rec = _json.loads(argv_log.read_text())
    assert rec["pwd_env"] == "hunter2"
    argv = rec["argv"]
    assert "--host=dbhost" in argv and "--port=3307" in argv
    assert "--user=syncer" in argv and "--master-data=2" in argv
    assert "--single-transaction" in argv and "--hex-blob" in argv
    # one schema -> shrink to [db, tables...] (prepareCanal's logic)
    assert argv[-2:] == ["app", "items"]
    assert not any("hunter2" in a for a in argv)

    # final state identical to the --dump-sql path on the same text
    cfg2 = EngineConfig.from_toml(TOML)
    cfg2.data_dir = str(tmp_path / "log2")
    run_dump(cfg2, str(golden), spark=spark)
    a = {(r["id"], r["es_title"]) for r in latest_state(
        spark.read.parquet(f"{cfg.data_dir}/olap.items_sink"),
        ["id"]).collect()}
    b = {(r["id"], r["es_title"]) for r in latest_state(
        spark.read.parquet(f"{cfg2.data_dir}/olap.items_sink"),
        ["id"]).collect()}
    assert a == b and len(a) == 3


def test_cli_dump_exec_nonzero_exit_is_loud(tmp_path):
    """A failing mysqldump must raise with its stderr -- a partial
    dump file silently bootstrapped would be data loss."""
    import stat
    import sys

    import pytest

    from mysql_syncer_clickhouse_spark.sources.mysqldump import (
        exec_mysqldump)
    stub = tmp_path / "mysqldump"
    stub.write_text(f"#!{sys.executable}\n"
                    "import sys\n"
                    "sys.stderr.write('Access denied for user')\n"
                    "sys.exit(2)\n")
    stub.chmod(stub.stat().st_mode | stat.S_IEXEC)
    with pytest.raises(RuntimeError, match="Access denied"):
        exec_mysqldump(str(stub), str(tmp_path / "out.sql"),
                       schema_tables={"app": ["items"]})


def test_cli_dump_seeds_master_info_and_skips_only_absent(spark,
                                                          tmp_path):
    """VERDICT r10 ask #1 + ADVICE r10 mediums: (a) a dump bootstrap
    persists the header's resume coordinates -- binlog (file, pos)
    from the 8.2+ CHANGE REPLICATION SOURCE comment and the COMPLETE
    executed GTID set from gtid_purged -- into <data_dir>/_master.info
    so `--tail @info` resumes in failover-portable GTID mode; (b) the
    rule loop skips tables ABSENT from the dump but propagates
    DumpFormatError for present-but-malformed ones instead of
    swallowing it into a silent empty bootstrap."""
    import pytest

    from mysql_syncer_clickhouse_spark.__main__ import run_dump
    from mysql_syncer_clickhouse_spark.sources.mysql_repl import MasterInfo
    from mysql_syncer_clickhouse_spark.sources.mysqldump import (
        DumpFormatError)

    sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    dump = tmp_path / "snap.sql"
    dump.write_text(
        "-- MySQL dump 10.13  Distrib 8.2.0\n"
        f"SET @@GLOBAL.GTID_PURGED=/*!80000 '+'*/ '{sid}:1-3';\n"
        "-- CHANGE REPLICATION SOURCE TO SOURCE_LOG_FILE="
        "'a-bin.000001', SOURCE_LOG_POS=1543;\n"
        "CREATE TABLE `items` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `title` varchar(80) DEFAULT NULL,\n"
        "  `qty` int DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `items` VALUES (1,'one',10),(2,'two',20);\n")
    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    out = run_dump(cfg, str(dump), spark=spark)
    assert out[0]["gtid_set"] == f"{sid}:1-3"
    assert out[1]["rule"] == "app:items" and out[1]["rows"] == 2
    info = MasterInfo.load(os.path.join(cfg.data_dir, "_master.info"))
    assert info.gtid_set == f"{sid}:1-3"
    assert (info.file, info.pos) == ("a-bin.000001", 1543)

    # present-but-malformed: the table EXISTS in the dump but its
    # INSERT spans lines -- must raise, not bootstrap empty
    bad = tmp_path / "bad.sql"
    bad.write_text(
        "CREATE TABLE `items` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `title` varchar(80) DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT\nINTO `items` VALUES (1,'one');\n")
    cfg2 = EngineConfig.from_toml(TOML)
    cfg2.data_dir = str(tmp_path / "log2")
    with pytest.raises(DumpFormatError):
        run_dump(cfg2, str(bad), spark=spark)

    # genuinely absent table: skipped, no raise, no rows line
    absent = tmp_path / "absent.sql"
    absent.write_text(
        "CREATE TABLE `unrelated` (\n"
        "  `id` bigint NOT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `unrelated` VALUES (1);\n")
    cfg3 = EngineConfig.from_toml(TOML)
    cfg3.data_dir = str(tmp_path / "log3")
    out = run_dump(cfg3, str(absent), spark=spark)
    assert len(out) == 1                     # header line only


def test_cli_dump_multiline_flag_and_tail_at_dump_from_sql(spark,
                                                           tmp_path,
                                                           capsys):
    """--dump-multiline routes the file-parallel reassembly reader
    through the CLI, and --dump-sql now feeds --tail @dump: the
    header's captured position reaches the tail hand-off the same way
    --dump-exec's does."""
    import json as _json

    from mysql_syncer_clickhouse_spark.__main__ import main, run_dump

    dump = tmp_path / "wrapped.sql"
    dump.write_text(
        "-- CHANGE REPLICATION SOURCE TO SOURCE_LOG_FILE="
        "'w-bin.000003', SOURCE_LOG_POS=99;\n"
        "CREATE TABLE `items` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `title` varchar(80) DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT\nINTO `items`\nVALUES\n(1,'one'),\n(2,'two');\n")
    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    out = run_dump(cfg, str(dump), multiline=True, spark=spark)
    assert out[1]["rows"] == 2
    assert (out[0]["binlog_file"], out[0]["binlog_pos"]) == \
        ("w-bin.000003", 99)

    # argparse wiring: the flag exists and @dump guidance names both
    # modes (no server here, so only the error path is driven)
    toml2 = tmp_path / "r.toml"
    toml2.write_text(open(TOML).read())
    import pytest
    with pytest.raises(SystemExit):
        main(["--config", str(toml2), "--tail", "@dump"])
    err = capsys.readouterr().err
    assert "--dump-exec or --dump-sql" in err


def test_cli_selfcheck_mode(spark, tmp_path):
    """--selfcheck: the external driver's oracle gate as a CLI mode --
    green entries report all three matches; a value divergence is
    DETECTED (not papered over by canonicalization) and lands in
    `failed` with a first_diff sample; rows-only entries are listed
    as skipped."""
    from mysql_syncer_clickhouse_spark.selfcheck import (compare_one,
                                                         run_selfcheck)

    out = run_selfcheck("/root/testdata/sf0.001",
                        ["q1_pricing_summary", "topk_orders"],
                        spark=spark)
    assert out["failed"] == [] and out["checked"] == 2
    assert all(v["values_match"] for v in out["results"].values())

    # a broken oracle must FAIL the compare, with a diff sample
    import duckdb

    import __spark_entry__ as E
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'/root/testdata/sf0.001/{t}.parquet'")
    good_sql = E.oracle_sql()["topk_orders"]
    # perturb: shift a value column by 1 in the oracle
    bad_sql = ("SELECT * REPLACE (o_orderkey + 1 AS o_orderkey) "
               f"FROM ({good_sql})")
    r = compare_one(spark, con, E.queries()["topk_orders"], bad_sql,
                    "/root/testdata/sf0.001")
    assert not r["values_match"] and "first_diff" in r


def test_cli_dump_failure_does_not_advance_master_info(spark, tmp_path):
    """A dump bootstrap that FAILS (present-but-malformed table) must
    not persist its header coordinates: _master.info advancing past
    data that never landed would make a later `--tail @info` skip it
    silently."""
    import pytest

    from mysql_syncer_clickhouse_spark.__main__ import run_dump
    from mysql_syncer_clickhouse_spark.sources.mysql_repl import MasterInfo
    from mysql_syncer_clickhouse_spark.sources.mysqldump import (
        DumpFormatError)

    bad = tmp_path / "bad.sql"
    bad.write_text(
        "SET @@GLOBAL.GTID_PURGED='3e11fa47-71ca-11e1-9e33-"
        "c80aa9429562:1-9';\n"
        "CREATE TABLE `items` (\n"
        "  `id` bigint NOT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT\nINTO `items` VALUES (1);\n")   # malformed: wrapped
    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    with pytest.raises(DumpFormatError):
        run_dump(cfg, str(bad), spark=spark)
    info = MasterInfo.load(os.path.join(cfg.data_dir, "_master.info"))
    assert info.gtid_set == "" and info.file is None


def test_selfcheck_canon_rounds_significant_digits():
    """canon() absorbs last-ulp engine noise at ANY magnitude -- 9
    SIGNIFICANT decimals, not 9 decimal places (ADVICE r11: a ~1e9
    TPC-H revenue sum had no noise margin under round(v, 9))."""
    from mysql_syncer_clickhouse_spark.selfcheck import canon
    big = 1234567890.1234567
    assert canon(big) == canon(big + 1e-6)       # ulp noise absorbed
    assert canon(big) != canon(big + 10.0)       # real drift caught
    assert canon(0.0001234567891) == canon(0.0001234567892)
    assert canon(1.0001) != canon(1.0002)


def test_cli_dump_header_persist_requires_bootstrap_and_agreement(
        spark, tmp_path):
    """ADVICE r11 (medium): (a) a mistargeted dump -- header present
    but every configured table ABSENT -- must NOT persist resume
    coordinates (a later `--tail @info` would skip binlog events that
    were never applied); (b) a multi-file glob whose files carry
    CONFLICTING headers must refuse to persist and record the
    conflict; (c) a multi-file glob whose headers AGREE persists."""
    from mysql_syncer_clickhouse_spark.__main__ import run_dump
    from mysql_syncer_clickhouse_spark.sources.mysql_repl import MasterInfo

    sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

    def hdr(file, pos, hi):
        return (f"SET @@GLOBAL.GTID_PURGED='{sid}:1-{hi}';\n"
                "-- CHANGE REPLICATION SOURCE TO SOURCE_LOG_FILE="
                f"'{file}', SOURCE_LOG_POS={pos};\n")

    items = ("CREATE TABLE `items` (\n  `id` bigint NOT NULL,\n"
             "  PRIMARY KEY (`id`)\n) ENGINE=InnoDB;\n"
             "INSERT INTO `items` VALUES (1);\n")

    # (a) header but zero bootstrapped rules -> nothing persisted
    mis = tmp_path / "mis.sql"
    mis.write_text(hdr("a-bin.000009", 999, 9)
                   + "CREATE TABLE `other` (`id` bigint NOT NULL,\n"
                     "PRIMARY KEY (`id`)) ENGINE=InnoDB;\n"
                     "INSERT INTO `other` VALUES (1);\n")
    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log_a")
    out = run_dump(cfg, str(mis), spark=spark)
    assert len(out) == 1 and out[0]["gtid_set"] == f"{sid}:1-9"
    info = MasterInfo.load(os.path.join(cfg.data_dir, "_master.info"))
    assert info.gtid_set == "" and info.file is None

    # (b) two files, two different snapshots -> refuse + record
    d = tmp_path / "multi"
    d.mkdir()
    (d / "p1.sql").write_text(hdr("a-bin.000001", 100, 3) + items)
    (d / "p2.sql").write_text(hdr("a-bin.000002", 500, 7) + items)
    cfg2 = EngineConfig.from_toml(TOML)
    cfg2.data_dir = str(tmp_path / "log_b")
    out = run_dump(cfg2, str(d / "*.sql"), spark=spark)
    assert "header_conflict" in out[0]
    assert {c["binlog_file"] for c in out[0]["header_conflict"]} == \
        {"a-bin.000001", "a-bin.000002"}
    info = MasterInfo.load(os.path.join(cfg2.data_dir, "_master.info"))
    assert info.gtid_set == "" and info.file is None

    # (c) two files cut at the SAME position -> persist proceeds
    d2 = tmp_path / "multi_ok"
    d2.mkdir()
    (d2 / "p1.sql").write_text(hdr("a-bin.000003", 777, 5) + items)
    (d2 / "p2.sql").write_text(hdr("a-bin.000003", 777, 5))
    cfg3 = EngineConfig.from_toml(TOML)
    cfg3.data_dir = str(tmp_path / "log_c")
    out = run_dump(cfg3, str(d2 / "*.sql"), spark=spark)
    assert "header_conflict" not in out[0]
    info = MasterInfo.load(os.path.join(cfg3.data_dir, "_master.info"))
    assert (info.file, info.pos) == ("a-bin.000003", 777)
    assert info.gtid_set == f"{sid}:1-5"


def test_cli_apply_ddl_replicates_schema_changes(spark, tmp_path):
    """--apply-ddl: ALTER statements in the binlog QUERY stream land
    on the ClickHouse sink rule-mapped ('title' -> 'es_title') and
    TYPED -- the gap the reference leaves open (OnDDL only saves the
    position, river/sync.go:62-65). Incremental via _ddl.info: a
    second invocation applies nothing."""
    from mysql_syncer_clickhouse_spark.__main__ import run_apply_ddl
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "items",
                         [BinlogColumn.bigint("id"),
                          BinlogColumn.varchar("title", 80)])
    w.insert([[1, "a"]])
    w.xid(1)
    w.ddl("ALTER TABLE items ADD COLUMN price decimal(10,2) NOT NULL "
          "AFTER title, ADD INDEX i (id)")
    w.ddl("ALTER TABLE items MODIFY title varchar(200) NOT NULL")
    w.ddl("ALTER TABLE other ADD COLUMN x int")   # unruled table
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())

    srv = _FakeClickHouse().start()
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        out = run_apply_ddl(cfg, str(d), spark=spark)
        stmts = [s for line in out for a in line.get("applied", [])
                 for s in a.get("statements", [])]
        assert stmts == [
            "ALTER TABLE `olap`.`items_sink` ADD COLUMN IF NOT EXISTS "
            "`price` Decimal(10,2) AFTER `es_title`",
            "ALTER TABLE `olap`.`items_sink` MODIFY COLUMN "
            "`es_title` String"]
        assert [q for q, _ in srv.requests] == stmts
        # 3 events scanned (the unruled 'other' advances the watermark
        # without producing statements)
        assert out[-1]["new_ddl_events"] == 3

        # watermark: nothing re-applies
        out2 = run_apply_ddl(cfg, str(d), spark=spark)
        assert out2[-1]["new_ddl_events"] == 0
        assert len(srv.requests) == len(stmts)

        # a NEW binlog file's DDL applies on the next run
        w2 = BinlogFileWriter("app", "items",
                              [BinlogColumn.bigint("id")])
        w2.ddl("ALTER TABLE app.items DROP COLUMN price")
        (d / "mysql-bin.000002").write_bytes(w2.to_bytes())
        out3 = run_apply_ddl(cfg, str(d), spark=spark)
        assert out3[-1]["new_ddl_events"] == 1
        assert srv.requests[-1][0] == (
            "ALTER TABLE `olap`.`items_sink` DROP COLUMN IF EXISTS "
            "`price`")
    finally:
        srv.stop()


def test_cli_apply_ddl_composes_with_drain(spark, tmp_path):
    """Epoch-boundary composition: bootstrap drain creates the sink,
    then a later binlog file carries ALTER + rows WITH the new column
    -- --apply-ddl lands the typed ALTER before the incremental drain
    inserts rows carrying it (checkpoint resume drains only the new
    file)."""
    import json as _json

    from mysql_syncer_clickhouse_spark.__main__ import (run_apply_ddl,
                                                        run_binlog)
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    w1 = BinlogFileWriter("app", "items",
                          [BinlogColumn.bigint("id"),
                           BinlogColumn.varchar("title", 80)])
    w1.insert([[1, "a"], [2, "b"]])
    w1.xid(1)
    (d / "mysql-bin.000001").write_bytes(w1.to_bytes())

    srv = _FakeClickHouse().start()
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        out = run_binlog(cfg, str(d), spark=spark)
        assert out[0]["ops"]["insert"] == 2
        n_bootstrap = len(srv.requests)

        # source evolves: ALTER, then rows that carry the new column
        w2 = BinlogFileWriter("app", "items",
                              [BinlogColumn.bigint("id"),
                               BinlogColumn.varchar("title", 80),
                               BinlogColumn.bigint("price")])
        w2.ddl("ALTER TABLE items ADD COLUMN price bigint "
               "AFTER title")
        w2.insert([[3, "c", 999]])
        w2.xid(2)
        (d / "mysql-bin.000002").write_bytes(w2.to_bytes())

        run_apply_ddl(cfg, str(d), spark=spark)
        out2 = run_binlog(cfg, str(d), spark=spark)
        # checkpoint resume: only the NEW file's rows drain
        assert out2[0]["ops"]["insert"] == 1

        reqs = srv.requests[n_bootstrap:]
        alter = [q for q, _ in reqs if q.startswith("ALTER")]
        assert alter == [
            "ALTER TABLE `olap`.`items_sink` ADD COLUMN IF NOT EXISTS "
            "`price` Nullable(Int64) AFTER `es_title`"]
        # the ALTER landed BEFORE the incremental drain's INSERTs
        first_alter = next(i for i, (q, _) in enumerate(reqs)
                           if q.startswith("ALTER"))
        insert_rows = [
            _json.loads(line)
            for q, body in reqs[first_alter:] if q.startswith("INSERT")
            for line in body.strip().splitlines()]
        new = [r for r in insert_rows if r.get("id") == 3]
        assert new and new[0]["price"] == 999
    finally:
        srv.stop()


def test_cli_follow_mode_applies_late_ddl(spark, tmp_path):
    """--binlog-dir --follow --apply-ddl: a DDL that lands AFTER
    startup reaches the ClickHouse sink without a restart (the
    daemon poller at flush_bulk_time cadence -- the --tail loop's
    per-cycle apply, mirrored for the file-watching mode)."""
    import threading
    import time

    from mysql_syncer_clickhouse_spark.__main__ import run_binlog
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    w1 = BinlogFileWriter("app", "items",
                          [BinlogColumn.bigint("id"),
                           BinlogColumn.varchar("title", 80)])
    w1.insert([[1, "a"]])
    w1.xid(1)
    (d / "mysql-bin.000001").write_bytes(w1.to_bytes())

    srv = _FakeClickHouse().start()
    stop = threading.Event()
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        out = run_binlog(cfg, str(d), follow=True, follow_ddl=True,
                         ddl_stop=stop, spark=spark)
        assert {"mode": "apply_ddl_follow",
                "cadence_ms": cfg.flush_bulk_ms} in out

        w2 = BinlogFileWriter("app", "items",
                              [BinlogColumn.bigint("id")])
        w2.ddl("ALTER TABLE items ADD COLUMN price bigint")
        (d / "mysql-bin.000002").write_bytes(w2.to_bytes())

        want = ("ALTER TABLE `olap`.`items_sink` ADD COLUMN IF NOT "
                "EXISTS `price` Nullable(Int64)")
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(q == want for q, _ in srv.requests):
                break
            assert stop.error is None, stop.error
            time.sleep(0.5)
        assert any(q == want for q, _ in srv.requests)
    finally:
        stop.set()
        for q in spark.streams.active:
            q.stop()
        srv.stop()


def test_cli_apply_ddl_replays_pt_osc_migration(spark, tmp_path, capsys):
    """Online-schema-change migrations (pt-osc/gh-ost) -- how real
    MySQL shops run every ALTER -- must reach the sink: the shadow
    table's CREATE LIKE + ALTERs + RENAME swap span THREE --apply-ddl
    invocations (the ledger rides the _ddl.info watermark), and the
    cut-over replays the migration's typed ALTER onto ClickHouse. An
    unknown-history swap warns loudly -- nothing silent (r12 VERDICT
    missing #1)."""
    import json as _json

    from mysql_syncer_clickhouse_spark.__main__ import run_apply_ddl
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()

    def binlog(n, *stmts):
        w = BinlogFileWriter("app", "items",
                             [BinlogColumn.bigint("id")])
        for s in stmts:
            w.ddl(s)
        (d / f"mysql-bin.{n:06d}").write_bytes(w.to_bytes())

    srv = _FakeClickHouse().start()
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url

        # cycle 1: pt-osc opens the migration
        binlog(1, "CREATE TABLE `_items_new` LIKE `items`")
        out = run_apply_ddl(cfg, str(d), spark=spark)
        assert out[-1]["new_ddl_events"] == 1
        assert srv.requests == []       # nothing applied yet
        info = _json.loads(
            (tmp_path / "log" / "_ddl.info").read_text())
        assert "app:_items_new" in info["shadow"]

        # cycle 2: the actual migration runs on the shadow
        binlog(2, "ALTER TABLE _items_new ADD COLUMN price "
                  "decimal(10,2) NOT NULL AFTER title")
        run_apply_ddl(cfg, str(d), spark=spark)
        assert srv.requests == []

        # cycle 3: atomic cut-over -> the accumulated ALTER replays,
        # rule-mapped (AFTER title -> AFTER es_title) and typed
        binlog(3, "RENAME TABLE items TO _items_old, "
                  "_items_new TO items")
        out3 = run_apply_ddl(cfg, str(d), spark=spark)
        assert [q for q, _ in srv.requests] == [
            "ALTER TABLE `olap`.`items_sink` ADD COLUMN IF NOT EXISTS "
            "`price` Decimal(10,2) AFTER `es_title`"]
        applied = [a for line in out3 for a in line.get("applied", [])]
        assert applied == [{
            "rule": "app:items", "osc_replay": True,
            "statements": [srv.requests[0][0]]}]
        info = _json.loads(
            (tmp_path / "log" / "_ddl.info").read_text())
        assert info["shadow"] == {}     # cut-over consumed the entry

        # an unknown-history swap warns loudly in stderr AND the line
        binlog(4, "RENAME TABLE items_backup TO items")
        capsys.readouterr()
        out4 = run_apply_ddl(cfg, str(d), spark=spark)
        err = capsys.readouterr().err
        assert "WARN" in err and "items_sink" in err
        warns = [w for line in out4 for w in line.get("warnings", [])]
        assert len(warns) == 1 and "drift" in warns[0]
        assert len(srv.requests) == 1   # no statement was applied
    finally:
        srv.stop()


def test_cli_apply_ddl_wildcard_create_then_fan_in(spark, tmp_path):
    """The reference's own wildcard scenario (test_river_[0-9]{4},
    river/river_test.go:94) composed with mid-stream CREATE TABLE: a
    NEW matching table's CREATE maps through the wildcard rule into a
    typed CREATE TABLE IF NOT EXISTS on the rule-addressed sink, and
    its rows then fan into the same state (r12 VERDICT next #7)."""
    from mysql_syncer_clickhouse_spark.__main__ import (_infer_row_ddl,
                                                        run_apply_ddl)
    from mysql_syncer_clickhouse_spark.operators.upsert import (
        fan_in, latest_state)
    from mysql_syncer_clickhouse_spark.plans.rules import Rule, RuleSet
    from mysql_syncer_clickhouse_spark.sources.binlog import (
        binlog_to_changelog, read_binlog_files)
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    cols = [BinlogColumn.bigint("id"), BinlogColumn.varchar("title")]
    w1 = BinlogFileWriter("app", "test_river_0001", cols)
    w1.insert([[1, "a"], [2, "b"]])
    w1.xid(1)
    w1.ddl("CREATE TABLE test_river_0002 (id bigint unsigned NOT NULL,"
           " title varchar(80), PRIMARY KEY (id)) ENGINE=InnoDB")
    (d / "mysql-bin.000001").write_bytes(w1.to_bytes())
    w2 = BinlogFileWriter("app", "test_river_0002", cols)
    w2.insert([[10, "x"]])
    w2.xid(2)
    (d / "mysql-bin.000002").write_bytes(w2.to_bytes())

    wild = Rule(source_schema="app",
                source_table="test_river_[0-9]{4}",
                sink_schema="olap", sink_table="river_all", pk=("id",))
    srv = _FakeClickHouse().start()
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        cfg.rules = RuleSet([wild])
        run_apply_ddl(cfg, str(d), spark=spark)
        creates = [q for q, _ in srv.requests if q.startswith("CREATE")]
        assert len(creates) == 1
        assert creates[0].startswith(
            "CREATE TABLE IF NOT EXISTS `olap`.`river_all` ")
        assert "`id` UInt64" in creates[0]
        assert "ORDER BY (`id`)" in creates[0]

        # the fan-in path: BOTH matched tables' rows land in one state
        env = read_binlog_files(spark, str(d))
        shards = []
        for tbl in ("test_river_0001", "test_river_0002"):
            assert cfg.rules.match("app", tbl) is wild
            ddl = _infer_row_ddl(env, "app", tbl)
            shards.append(binlog_to_changelog(env, ddl, db="app",
                                              table=tbl))
        state = latest_state(fan_in(shards), ["id"])
        got = {r["id"]: r["title"] for r in state.collect()}
        assert got == {1: "a", 2: "b", 10: "x"}
    finally:
        srv.stop()


def test_cli_retype_emits_then_executes_fallback_modifies(spark,
                                                          tmp_path):
    """--retype (r12 VERDICT next #3): a column that landed mid-epoch
    via the in-band Nullable(String) fallback, whose binlog DDL says
    decimal(10,2), gets its MODIFY COLUMN EMITTED (not run) by
    default, and executed under --execute with the sink column model
    updating via apply_to_columns. Columns already narrow, or whose
    source maps to String anyway, are untouched."""
    from mysql_syncer_clickhouse_spark.__main__ import run_retype
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "items", [BinlogColumn.bigint("id")])
    w.ddl("ALTER TABLE items ADD COLUMN price decimal(10,2), "
          "ADD COLUMN note text, ADD COLUMN qty int NOT NULL")
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())

    srv = _FakeClickHouse().start()
    # sink state: price+note stuck at the fallback, qty already typed
    srv.select_response = (b"id\tInt64\n"
                           b"es_title\tNullable(String)\n"
                           b"price\tNullable(String)\n"
                           b"note\tNullable(String)\n"
                           b"qty\tInt32\n")
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url

        out = run_retype(cfg, str(d), spark=spark)
        [line] = [x for x in out if x.get("modify")]
        want_stmt = ("ALTER TABLE `olap`.`items_sink` MODIFY COLUMN "
                     "`price` Nullable(Decimal(10,2))")
        assert [m["column"] for m in line["modify"]] == ["price"]
        assert line["modify"][0]["statement"] == want_stmt
        assert line["modify"][0]["current"] == "Nullable(String)"
        assert "rewrite" in line["modify"][0]["warning"]
        # emit-only: nothing but the introspection SELECT hit the sink
        assert all(q.lstrip().upper().startswith("SELECT")
                   for q, _ in srv.requests)

        out2 = run_retype(cfg, str(d), execute=True, spark=spark)
        [line2] = [x for x in out2 if x.get("modify")]
        alters = [q for q, _ in srv.requests if q.startswith("ALTER")]
        assert alters == [want_stmt]
        # the column model updated via apply_to_columns
        after = [tuple(c) for c in line2["modify"][0]["columns_after"]]
        assert ("price", "decimal(10,2)", True) in after
        assert ("qty", "int", False) in after      # untouched, typed
    finally:
        srv.stop()


def test_cli_retype_sees_osc_carried_types(spark, tmp_path):
    """Composition e2e (r13 VERDICT next #4a): a pt-osc migration is
    the ONLY place the column's real type was ever stated -- the
    shadow table's ALTER says decimal(10,2); the production table
    never saw a direct ALTER. Rows for the column meanwhile landed in
    the sink via the in-band Nullable(String) fallback. --retype's
    source-model fold must ride the same ShadowLedger --apply-ddl
    does: the cut-over replay carries the type into the model and the
    MODIFY is emitted (without the ledger the column is invisible and
    --retype reports nothing)."""
    from mysql_syncer_clickhouse_spark.__main__ import run_retype
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()

    def binlog(n, *stmts):
        w = BinlogFileWriter("app", "items",
                             [BinlogColumn.bigint("id")])
        for s in stmts:
            w.ddl(s)
        (d / f"mysql-bin.{n:06d}").write_bytes(w.to_bytes())

    binlog(1, "CREATE TABLE `_items_new` LIKE `items`")
    binlog(2, "ALTER TABLE _items_new ADD COLUMN price decimal(10,2)")
    binlog(3, "RENAME TABLE items TO _items_old, _items_new TO items")

    srv = _FakeClickHouse().start()
    srv.select_response = (b"id\tInt64\n"
                           b"es_title\tNullable(String)\n"
                           b"price\tNullable(String)\n")
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        out = run_retype(cfg, str(d), execute=True, spark=spark)
        [line] = [x for x in out if x.get("modify")]
        [m] = line["modify"]
        assert m["column"] == "price"
        assert m["target"] == "Nullable(Decimal(10,2))"
        alters = [q for q, _ in srv.requests if q.startswith("ALTER")]
        assert alters == ["ALTER TABLE `olap`.`items_sink` MODIFY "
                          "COLUMN `price` Nullable(Decimal(10,2))"]
    finally:
        srv.stop()


def test_cli_apply_ddl_then_checksum_schema_gap_closes(spark,
                                                       tmp_path):
    """Composition e2e (r13 VERDICT next #4b): --checksum's schema
    drift reporting composes with --apply-ddl. A sink missing a
    column reports schema_missing_in_sink (and not-in-sync) while the
    COMMON columns still digest clean; after --apply-ddl replays the
    ALTER onto the sink, a second --checksum reports the gap closed
    and the rule fully in sync."""
    from mysql_syncer_clickhouse_spark.__main__ import (run_apply_ddl,
                                                        run_checksum)
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_syncverify import _ChecksumFakeCH

    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "items",
                         [BinlogColumn.bigint("id"),
                          BinlogColumn.varchar("title"),
                          BinlogColumn.bigint("price")])
    w.insert([[1, "first", 100], [2, "second", 200]])
    w.xid(1)
    w.ddl("ALTER TABLE items ADD COLUMN price bigint")
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())

    class _EvolvingFakeCH(_ChecksumFakeCH):
        """The checksum fake, plus: an ALTER ADD COLUMN lands in its
        schema -- so --apply-ddl visibly changes what --checksum
        introspects."""

        def _serve(self, query, body=b""):
            import re as _re
            m = _re.match(r"ALTER TABLE .* ADD COLUMN IF NOT EXISTS "
                          r"`(\w+)` (\S+)", query)
            if m:
                with self._lock:
                    self.writes.append(query)
                    self.schema.append((m.group(1), m.group(2)))
                return b""
            return super()._serve(query, body)

    # sink rows CARRY price values (the in-band insert path wrote
    # them); only the TABLE SCHEMA the introspection reports lags.
    # ts: the binlog writer stamps event headers at epoch 0; the
    # fake's canonical renderer sees the epoch-micros integer (what
    # the digest hashes for DateTime64)
    schema = [("id", "Int64"), ("es_title", "Nullable(String)"),
              ("op", "String"), ("seq", "Int64"),
              ("ts", "Nullable(DateTime64(6))")]
    # seq = the changelog's deterministic (file_index << 40) | pos
    rows = [{"id": 1, "es_title": "first", "price": 100,
             "op": "insert", "seq": 1099511698944, "ts": 0},
            {"id": 2, "es_title": "second", "price": 200,
             "op": "insert", "seq": 1099511698945, "ts": 0}]
    srv = _EvolvingFakeCH(rows, schema, ["id"], 16)
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url

        out1 = run_checksum(cfg, binlog_dir=str(d), buckets=16,
                            spark=spark)
        line1 = next(x for x in out1 if x.get("rule") == "app:items")
        assert line1["schema_missing_in_sink"] == ["price"]
        assert line1["in_sync"] is False         # schema gap
        assert line1["buckets_mismatched"] == 0  # common data agrees

        out_ddl = run_apply_ddl(cfg, str(d), spark=spark)
        assert out_ddl[-1]["new_ddl_events"] == 1
        assert any(q.startswith("ALTER TABLE `olap`.`items_sink` "
                                "ADD COLUMN IF NOT EXISTS `price`")
                   for q in srv.writes)

        out2 = run_checksum(cfg, binlog_dir=str(d), buckets=16,
                            spark=spark)
        line2 = next(x for x in out2 if x.get("rule") == "app:items")
        assert line2["schema_missing_in_sink"] == []
        assert line2["buckets_mismatched"] == 0
        assert line2["in_sync"] is True
    finally:
        srv.stop()


def test_cli_retype_composite_targets_are_manual(spark, tmp_path):
    """A ',list' transform column maps String -> Array(String): a
    structural conversion ClickHouse MODIFY refuses outright --
    --retype must mark it manual (statement: None) instead of
    emitting a doomed ALTER, and --execute must not run anything."""
    from mysql_syncer_clickhouse_spark.__main__ import run_retype
    from mysql_syncer_clickhouse_spark.plans.rules import Rule, RuleSet
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "items", [BinlogColumn.bigint("id")])
    w.ddl("ALTER TABLE items ADD COLUMN csv text")
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())

    srv = _FakeClickHouse().start()
    srv.select_response = (b"id\tInt64\n"
                           b"tags\tNullable(String)\n")
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        cfg.rules = RuleSet([Rule(
            source_schema="app", source_table="items",
            sink_schema="olap", sink_table="items_sink", pk=("id",),
            field_mapping={"csv": "tags,list"})])
        out = run_retype(cfg, str(d), execute=True, spark=spark)
        [line] = [x for x in out if x.get("modify")]
        [m] = line["modify"]
        assert m["column"] == "tags" and m["target"] == "Array(String)"
        assert m["statement"] is None and "backfill" in m["manual"]
        assert not [q for q, _ in srv.requests if q.startswith("ALTER")]
    finally:
        srv.stop()


def test_cli_apply_ddl_warns_on_pk_column_ddl(spark, tmp_path, capsys):
    """A source DDL renaming or dropping a rule's pk column leaves the
    [[rule]] config stale (later drains select a missing column) and
    cannot move the sink's frozen ORDER BY key -- --apply-ddl must
    surface it loudly, in stderr AND the result line."""
    from mysql_syncer_clickhouse_spark.__main__ import run_apply_ddl
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "items", [BinlogColumn.bigint("id")])
    w.ddl("ALTER TABLE items RENAME COLUMN id TO item_id")
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())

    srv = _FakeClickHouse().start()
    try:
        cfg = EngineConfig.from_toml(TOML)
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        capsys.readouterr()
        out = run_apply_ddl(cfg, str(d), spark=spark)
        err = capsys.readouterr().err
        assert "pk column `id`" in err
        warns = [w for line in out for w in line.get("warnings", [])]
        assert len(warns) == 1 and "ORDER BY key" in warns[0]
        # the rename itself still applies (the sink column follows);
        # only the config staleness is the operator's to fix
        assert [q for q, _ in srv.requests] == [
            "ALTER TABLE `olap`.`items_sink` RENAME COLUMN `id` "
            "TO `item_id`"]
    finally:
        srv.stop()


def test_skip_delete_and_update_ops(spark, tmp_path):
    """The reference's -delete/-update flags
    (clickhouse/client.go:240-243): skipped ops never reach the sink
    OR the counters (bulk() breaks out before executing). Divergence
    noted in config.py: the reference defaults BOTH on (silently
    dropping every update/delete); here skipping is an explicit
    opt-in."""
    import os

    changelog = tmp_path / "changelog" / "app.items"
    os.makedirs(changelog)
    df = spark.createDataFrame(
        ROWS, "seq long, op string, id long, title string, mydate long")
    df.coalesce(1).write.mode("append").parquet(str(changelog))

    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    cfg.skip_delete = True
    cfg.skip_update = True
    assert cfg.skip_ops() == ("delete", "update")
    from mysql_syncer_clickhouse_spark.__main__ import run
    out = run(cfg, str(tmp_path / "changelog"), spark=spark)
    [line] = [x for x in out if x.get("rule") == "app:items"]
    # inserts only: id=2's delete ignored (still present), id=1's
    # update ignored (original title), so 2 rows with original values
    assert line["ops"] == {"insert": 2}
    assert line["rows"] == 2
    state = {r["id"]: r["es_title"] for r in
             spark.read.parquet(line["sink"]).collect()}
    assert state[1] == "first"        # update skipped
    assert 2 in state                 # delete skipped


def test_skip_flags_parse_from_toml(tmp_path):
    toml = tmp_path / "r.toml"
    toml.write_text(
        'skip_delete = true\n'
        '[[rule]]\nschema = "a"\ntable = "t"\n')
    cfg = EngineConfig.from_toml(str(toml))
    assert cfg.skip_delete is True and cfg.skip_update is False
    assert cfg.skip_ops() == ("delete",)


def test_source_only_config_creates_identity_rules(spark, tmp_path):
    """[[source]] tables without a [[rule]] sync under DEFAULT
    identity rules (the reference's newDefaultRule,
    river/river.go:155-163) -- previously a source-only config parsed
    to zero rules and silently synced nothing."""
    import os

    changelog = tmp_path / "changelog" / "app.items"
    os.makedirs(changelog)
    df = spark.createDataFrame(
        ROWS, "seq long, op string, id long, title string, mydate long")
    df.coalesce(1).write.mode("append").parquet(str(changelog))
    toml = tmp_path / "r.toml"
    toml.write_text('[[source]]\nschema = "app"\n'
                    'tables = ["items"]\n')
    cfg = EngineConfig.from_toml(str(toml))
    cfg.data_dir = str(tmp_path / "log")
    assert cfg.rules.rules == []          # no [[rule]] blocks
    from mysql_syncer_clickhouse_spark.__main__ import run
    out = run(cfg, str(tmp_path / "changelog"), spark=spark)
    [line] = [x for x in out if x.get("rule") == "app:items"]
    assert line["sink"].endswith("app.items")       # identity sink
    assert line["ops"] == {"insert": 2, "update": 1, "delete": 1}
    assert line["rows"] == 1


def test_wildcard_source_expands_against_available_tables(
        spark, tmp_path):
    """A regex [[source]] table expands to per-table identity rules
    against the tables the changelog actually holds (the
    information_schema-analog, river/river.go:203-209), and a
    wildcard [[rule]] overlays its field mapping on each expansion
    (river/river.go:252-265) while sink naming stays per-table."""
    import os

    for t in ("river_0001", "river_0002", "other"):
        d = tmp_path / "changelog" / f"app.{t}"
        os.makedirs(d)
        spark.createDataFrame(
            [(1, "insert", 5, "x")],
            "seq long, op string, id long, title string"
        ).coalesce(1).write.mode("append").parquet(str(d))
    toml = tmp_path / "r.toml"
    toml.write_text(
        '[[source]]\nschema = "app"\n'
        'tables = ["river_[0-9]{4}"]\n'
        '[[rule]]\nschema = "app"\ntable = "river_[0-9]{4}"\n'
        'id = ["id"]\n[rule.field]\ntitle = "es_title"\n')
    cfg = EngineConfig.from_toml(str(toml))
    cfg.data_dir = str(tmp_path / "log")
    from mysql_syncer_clickhouse_spark.__main__ import run
    out = run(cfg, str(tmp_path / "changelog"), spark=spark)
    synced = sorted(x["rule"] for x in out if x.get("rule"))
    assert synced == ["app:river_0001", "app:river_0002"]
    for x in out:
        if not x.get("rule"):
            continue
        # per-table identity sink + the wildcard rule's rename applied
        assert x["sink"].endswith(x["rule"].replace(":", "."))
        cols = spark.read.parquet(x["sink"]).columns
        assert "es_title" in cols and "title" not in cols


def test_duplicate_source_table_refuses(tmp_path):
    import pytest

    from mysql_syncer_clickhouse_spark.plans.rules import (
        RuleSet,
        expand_source_rules,
    )
    with pytest.raises(ValueError, match="duplicate source"):
        expand_source_rules(
            [{"schema": "a", "tables": ["t", "t"]}], RuleSet([]))
    with pytest.raises(ValueError, match="empty schema"):
        expand_source_rules(
            [{"schema": "", "tables": ["t"]}], RuleSet([]))


def test_cli_flag_overrides_flavor_thread_loglevel(monkeypatch,
                                                   tmp_path):
    """The reference's -flavor/-thread/-log_level CLI flags override
    the config (main.go:19-22); --log-level rides an env var every
    get_spark call honors."""
    import mysql_syncer_clickhouse_spark.__main__ as M

    seen = {}
    monkeypatch.setattr(
        M, "run", lambda cfg, d, **kw: seen.update(cfg=cfg) or [])
    monkeypatch.delenv("SPARK_GRAFT_LOG_LEVEL", raising=False)
    d = tmp_path / "changelog"
    os.makedirs(d)
    rc = M.main(["--config", TOML, "--changelog-dir", str(d),
                 "--thread", "4", "--flavor", "mariadb",
                 "--log-level", "warn"])
    try:
        assert rc == 0
        assert seen["cfg"].threads == 4
        assert seen["cfg"].flavor == "mariadb"
        assert os.environ["SPARK_GRAFT_LOG_LEVEL"] == "WARN"
        # ADVICE r13: an explicit CLI flag outranks a PRE-EXISTING env
        # var (setdefault let the env silently win)
        os.environ["SPARK_GRAFT_LOG_LEVEL"] = "DEBUG"
        rc = M.main(["--config", TOML, "--changelog-dir", str(d),
                     "--log-level", "error"])
        assert rc == 0
        assert os.environ["SPARK_GRAFT_LOG_LEVEL"] == "ERROR"
    finally:
        os.environ.pop("SPARK_GRAFT_LOG_LEVEL", None)


def test_hyphenated_table_name_is_not_a_wildcard():
    """Go's regexp.QuoteMeta does not escape '-', so the reference
    treats 'my-table' as a literal name; Python's re.escape DOES, and
    naive `re.escape(t) != t` detection would misclassify it as a
    wildcard and silently skip static-rule creation."""
    from mysql_syncer_clickhouse_spark.plans.rules import (
        RuleSet,
        expand_source_rules,
    )
    rs = expand_source_rules(
        [{"schema": "a", "tables": ["my-table", "t_[0-9]+"]}],
        RuleSet([]), available=[("a", "t_1"), ("a", "my-table")])
    keys = sorted(r.key for r in rs.rules)
    # literal name stays one identity rule; the regex expanded
    assert keys == ["a:my-table", "a:t_1"]


def test_expand_source_rules_properties():
    """Hypothesis invariants for the [[source]] expansion: every
    non-wildcard source table yields exactly one rule; expansion
    against an available list yields one rule per matching table;
    keys never duplicate; [[rule]] overlays preserve their pk and
    field mapping on every expanded match."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_syncer_clickhouse_spark.plans.rules import (
        Rule,
        RuleSet,
        expand_source_rules,
    )

    name = st.text(alphabet="abcdefgh_", min_size=1, max_size=8)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(name, min_size=1, max_size=5, unique=True),
           st.lists(name, min_size=0, max_size=6, unique=True))
    def check(tables, avail_tables):
        sources = [{"schema": "s", "tables": tables}]
        avail = [("s", t) for t in avail_tables]
        rs = expand_source_rules(sources, RuleSet([]), avail)
        keys = [r.key for r in rs.rules]
        assert len(keys) == len(set(keys))          # never duplicates
        # plain names (no metachars in this alphabet) -> identity
        for t in tables:
            assert f"s:{t}" in keys
        # a wildcard over the alphabet expands to available matches
        rs2 = expand_source_rules(
            [{"schema": "s", "tables": ["[a-h_]+"]}],
            RuleSet([Rule(source_schema="s", source_table="[a-h_]+",
                          sink_schema="olap", sink_table="[a-h_]+",
                          pk=("k",),
                          field_mapping={"x": "y"})]),
            avail)
        for r in rs2.rules:
            assert r.pk == ("k",)                   # overlay applied
            assert r.field_mapping == {"x": "y"}
            assert r.sink_schema == "olap"
            assert r.sink_table == r.source_table   # identity kept
        # expansions for every available match PLUS the raw pattern
        # rule itself (it keeps routing tables that appear mid-stream
        # -- the S4 fan-in contract)
        assert sorted(r.source_table for r in rs2.rules) == \
            sorted(avail_tables + ["[a-h_]+"])

    check()


def test_source_only_config_reaches_ddl_chain(spark, tmp_path):
    """A source-only config's identity rules drive --apply-ddl too:
    binlog DDL on a [[source]] table applies to its identity sink."""
    from mysql_syncer_clickhouse_spark.__main__ import run_apply_ddl
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)
    from tests.test_clickhouse_sink import _FakeClickHouse

    d = tmp_path / "binlogs"
    d.mkdir()
    w = BinlogFileWriter("app", "widgets", [BinlogColumn.bigint("id")])
    w.ddl("ALTER TABLE widgets ADD COLUMN price decimal(10,2)")
    (d / "mysql-bin.000001").write_bytes(w.to_bytes())

    srv = _FakeClickHouse().start()
    try:
        toml = tmp_path / "r.toml"
        toml.write_text('[[source]]\nschema = "app"\n'
                        'tables = ["widgets"]\n')
        cfg = EngineConfig.from_toml(str(toml))
        cfg.data_dir = str(tmp_path / "log")
        cfg.sink_addr = srv.url
        out = run_apply_ddl(cfg, str(d), spark=spark)
        applied = [a for line in out
                   for a in line.get("applied", [])]
        stmts = [s for a in applied for s in a.get("statements", [])]
        assert any("`app`.`widgets`" in s and "ADD COLUMN" in s
                   and "Decimal(10,2)" in s for s in stmts), stmts
    finally:
        srv.stop()


def test_missing_changelog_root_is_graceful(spark, tmp_path):
    """A changelog root that does not exist (first boot, wrong path)
    drains to zero rules, as it always did -- the [[source]]
    expansion's directory listing must not turn it into a crash."""
    cfg = EngineConfig.from_toml(TOML)
    cfg.data_dir = str(tmp_path / "log")
    out = run(cfg, str(tmp_path / "never-created"), spark=spark)
    assert out == []


def test_identity_rule_without_id_column_skips_loudly(spark, tmp_path,
                                                      capsys):
    """[[source]] identity rules guess pk=('id',); a table without
    that column skips with a WARN + result line naming the remedy
    instead of crashing in latest_state."""
    import os as _os

    d = tmp_path / "changelog" / "app.noid"
    _os.makedirs(d)
    spark.createDataFrame(
        [(1, "insert", "x")], "seq long, op string, payload string"
    ).coalesce(1).write.mode("append").parquet(str(d))
    toml = tmp_path / "r.toml"
    toml.write_text('[[source]]\nschema = "app"\ntables = ["noid"]\n')
    cfg = EngineConfig.from_toml(str(toml))
    cfg.data_dir = str(tmp_path / "log")
    out = run(cfg, str(tmp_path / "changelog"), spark=spark)
    assert out == [{"rule": "app:noid",
                    "skipped_missing_pk": ["id"]}]
    err = capsys.readouterr().err
    assert "declare an explicit [[rule]]" in err


@pytest.mark.parametrize("mode", ["run", "run_binlog", "run_dump"])
def test_every_drain_mode_skips_a_table_without_its_pk(spark, tmp_path,
                                                       capsys, mode):
    """A [[source]] identity rule guesses pk=('id',). Whichever source
    feeds the drain -- changelog parquet, binlog files or a mysqldump
    snapshot -- a table without that column skips with the WARN and a
    `skipped_missing_pk` line, and no sink directory is written."""
    import mysql_syncer_clickhouse_spark.__main__ as M
    from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
        BinlogColumn, BinlogFileWriter)

    src = tmp_path / "src"
    if mode == "run":
        spark.createDataFrame(
            [(1, "insert", "x")], "seq long, op string, payload string"
        ).coalesce(1).write.parquet(str(src / "app.noid"))
    elif mode == "run_binlog":
        src.mkdir()
        w = BinlogFileWriter("app", "noid",
                             [BinlogColumn.varchar("payload", 80)],
                             table_id=11)
        w.insert([["x"]])
        (src / "mysql-bin.000001").write_bytes(w.to_bytes())
    else:
        src = tmp_path / "snap.sql"
        src.write_text("CREATE TABLE `noid` (\n"
                       "  `payload` varchar(80) DEFAULT NULL\n"
                       ") ENGINE=InnoDB;\n"
                       "INSERT INTO `noid` VALUES ('x');\n")
    toml = tmp_path / "r.toml"
    toml.write_text('[[source]]\nschema = "app"\ntables = ["noid"]\n')
    cfg = EngineConfig.from_toml(str(toml))
    cfg.data_dir = str(tmp_path / "log")
    out = getattr(M, mode)(cfg, str(src), spark=spark)
    assert out[-1] == {"rule": "app:noid", "skipped_missing_pk": ["id"]}
    assert "declare an explicit [[rule]]" in capsys.readouterr().err
    assert not os.path.exists(os.path.join(cfg.data_dir, "app.noid"))
