"""CLI -- the reference's `mysql-syncer-clickhouse -config river.toml`
daemon (main.go:25-106), Spark-native.

    python -m mysql_syncer_clickhouse_spark \
        --config etc/river.toml --changelog-dir /data/changelog \
        [--follow] [--compact]
    python -m mysql_syncer_clickhouse_spark \
        --config etc/river.toml --binlog-dir /var/lib/mysql-binlogs

Reads the SAME river.toml an existing deployment already has. Every
source mode shares one per-rule drain (_drain_rule): a per-source
reader turns each [[rule]]'s table into a changelog frame (seq, op,
cols...) -- a stream over `<changelog-dir>/<schema>.<table>/` parquet
or over binlog files, or one batch of mysqldump snapshot rows at
seq=-1 -- and one StreamingSyncPipeline applies it into
`<data_dir>/<sink_schema>.<sink_table>` (checkpoint under
`<data_dir>/_checkpoints/`). A stream runs through foreachBatch; a
batch is one epoch through the same apply. Without --follow a stream
drains what's there (availableNow) and exits -- the catch-up/batch
mode; with --follow it keeps a processingTime trigger running at
flush_bulk_time cadence. The --checksum verifier rebuilds its expected
state from the same readers. Prints per-rule op counters (the /stat
analog, river/status.go:49-68) as one JSON line each.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

from .config import EngineConfig
from .session import get_spark
from .streaming.pipeline import StreamingSyncPipeline, start_stream


class _AggregatedMetrics:
    """Live view over every rule's SyncMetrics -- the single global
    /stat the reference serves (river/status.go:49-68): op counts sum,
    position is the max applied seq. Reads the pipeline list at
    request time, so rules registered after the server starts are
    included automatically."""

    def __init__(self, pipes: list[StreamingSyncPipeline]) -> None:
        self._pipes = pipes

    def snapshot(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for p in self._pipes:
            for k, v in p.metrics.snapshot().items():
                out[k] = out.get(k, 0) + v
        return out

    def position_snapshot(self) -> dict:
        seqs = [p.metrics.applied_seq for p in self._pipes
                if p.metrics.applied_seq is not None]
        epochs = [p.metrics.applied_epoch for p in self._pipes
                  if p.metrics.applied_epoch is not None]
        return {"applied_seq": max(seqs) if seqs else None,
                "applied_epoch": max(epochs) if epochs else None}

    def lag_snapshot(self) -> dict | None:
        """The WORST rule's apply lag (a fleet is as behind as its
        most-behind table); staleness is the freshest apply so an
        active fleet with one idle rule doesn't read as stalled."""
        snaps = [s for s in (p.metrics.lag_snapshot()
                             for p in self._pipes) if s]
        if not snaps:
            return None
        worst = max(snaps, key=lambda s: s["apply_lag_seconds"])
        return {
            "last_event_ts": worst["last_event_ts"],
            "apply_lag_seconds": worst["apply_lag_seconds"],
            "since_last_apply_seconds": min(
                s["since_last_apply_seconds"] for s in snaps),
        }

    def sink_snapshot(self) -> dict | None:
        """Sum every rule's sink counters; rate derives from the sums
        (rows / summed connection wall = fleet-wide rows/s/conn)."""
        tot = {"rows_written": 0, "conn_wall_us": 0, "epochs": 0}
        for p in self._pipes:
            s = p.metrics.sink_stats
            if s:
                for k in tot:
                    tot[k] += int(s.get(k, 0))
        if not tot["rows_written"]:
            return None
        wall = tot["conn_wall_us"] / 1e6
        tot["rows_per_sec_per_conn"] = (
            round(tot["rows_written"] / wall) if wall > 0 else None)
        return tot


def _stat_lines(cfg: EngineConfig,
                pipes: list[StreamingSyncPipeline]) -> list[dict]:
    """Start the /stat server when river.toml sets stat_addr
    ('host:port') and return its result line. The server is a daemon
    thread -- it lives as long as the process, like the reference's
    http.ListenAndServe -- and also serves the last --checksum verdict
    (`last_verify` + its age) from data_dir."""
    if not cfg.stat_addr:
        return []
    from .streaming.status import StatusServer
    host, _, port = cfg.stat_addr.rpartition(":")
    srv = StatusServer(_AggregatedMetrics(pipes), port=int(port),
                       host=host or "127.0.0.1",
                       verify_file=(os.path.join(
                           cfg.data_dir, "_checksum_last.json")
                           if cfg.data_dir else None))
    srv.start()
    return [{"stat":
             f"http://{srv._httpd.server_address[0]}:{srv.port}/stat"}]


def _attach_ch_sink(cfg: EngineConfig, pipe: StreamingSyncPipeline,
                    spark, source_schema) -> str:
    """river.toml sink_addr -> apply batches to ClickHouse (the
    reference's only sink, river/config.go:24-27): native TCP for
    host:port (the reference's own transport, clickhouse/client.go),
    the HTTP writer for http(s):// URLs. Sink columns/DDL derive from
    the rule-projected Spark schema via the single type authority
    (typemap). Returns the sink descriptor for the result line."""
    from .functions.typemap import columns_from_spark_schema
    empty = spark.createDataFrame([], source_schema)
    meta = [pipe.seq_col, pipe.op_col]
    payload = [c for c in empty.columns if c not in meta]
    projected = empty.select(*[empty[c] for c in meta],
                             *pipe.rule.projection(payload))
    cols = columns_from_spark_schema(projected.schema)
    pk = tuple(pipe._sink_pk())
    db, table = pipe.rule.sink_schema, pipe.rule.sink_table
    sink = _build_ch_sink(cfg, db, table, cols, pk)
    sink.ensure_table()
    pipe.ch_sink = sink
    return f"clickhouse://{cfg.sink_addr}/{db}.{table}"


def _build_ch_sink(cfg: EngineConfig, db: str, table: str,
                   cols, pk: tuple, *, url: str | None = None):
    """sink_addr -> a ClickHouse sink object: native TCP for
    host:port (the reference's own transport, clickhouse/client.go),
    the HTTP writer for http(s):// URLs. An explicit `url`
    (--checksum-url) overrides sink_addr with an HTTP endpoint. The
    one place a sink address becomes a wire."""
    addr = url or cfg.sink_addr
    if url or addr.startswith(("http://", "https://")):
        from .sinks.clickhouse import ClickHouseHTTPSink
        return ClickHouseHTTPSink(
            url=addr, database=db, table=table, columns=cols, pk=pk,
            user=cfg.sink_user, password=cfg.sink_pass,
            max_open=cfg.max_open)
    from .sinks.clickhouse_native import ClickHouseNativeSink
    host, _, port = addr.rpartition(":")
    # TLS config stays PICKLABLE (secure/ca_file, not a built
    # SSLContext): apply_batch's per-partition connections open on
    # executors and rebuild their contexts from these fields
    return ClickHouseNativeSink(
        host=host or "127.0.0.1", port=int(port or 9000),
        database=db, table=table, columns=cols, pk=pk,
        user=cfg.sink_user or "default",
        password=cfg.sink_pass or "",
        max_open=cfg.max_open,
        secure=bool(cfg.sink_secure), ca_file=cfg.sink_ca or None)


def _rules_to_drain(cfg: EngineConfig, available) -> list:
    """The effective rules a drain applies: skip_no_pk_table drops the
    rules that declare no pk before any source is read."""
    return [r for r in cfg.effective_rules(available).rules
            if r.pk or not cfg.skip_no_pk_table]


def _drain_rule(cfg: EngineConfig, spark, rule, changelog, *,
                follow: bool, compact: bool,
                pipes: list[StreamingSyncPipeline],
                results: list[dict]) -> bool:
    """Apply one rule's changelog frame (seq, op, cols...) -- the
    per-rule apply loop every source mode shares (the reference's
    river/sync.go). A streaming frame runs under the rule's checkpoint
    (availableNow, or the flush_bulk_time trigger with `follow`); a
    batch frame -- a dump snapshot -- is one epoch through the same
    apply. Appends the rule's result line; returns whether it drained.

    Identity rules from [[source]] GUESS pk=('id',) (the reference
    introspects the real PK from live MySQL, river/river.go:279-291):
    a table without it skips LOUDLY with the remedy before any sink
    is touched, instead of crashing in latest_state."""
    missing_pk = [c for c in rule.pk if c not in changelog.columns]
    if missing_pk:
        print(f"WARN: {rule.key}: pk column(s) {missing_pk} not "
              f"in the table; skipping -- declare an explicit "
              f"[[rule]] with id = [...] for this table",
              file=sys.stderr, flush=True)
        results.append({"rule": rule.key,
                        "skipped_missing_pk": missing_pk})
        return False
    pipe = StreamingSyncPipeline(
        rule, list(rule.pk), cfg.sink_dir(rule),
        cfg.checkpoint_dir(rule), skip_ops=cfg.skip_ops())
    sink_desc = cfg.sink_dir(rule)
    if cfg.sink_addr:
        sink_desc = _attach_ch_sink(cfg, pipe, spark, changelog.schema)
    pipes.append(pipe)
    if not changelog.isStreaming:
        pipe._apply_batch(changelog, epoch_id=-1)
    else:
        q = start_stream(changelog, pipe._apply_batch, pipe.checkpoint_dir,
                         **cfg.trigger_kwargs(follow))
        if follow:
            results.append({"rule": rule.key, "mode": "following"})
            return True
        q.awaitTermination()
    if compact and pipe.ch_sink is None:
        pipe.compact(spark)   # ClickHouse merges itself
    line = {
        "rule": rule.key,
        "sink": sink_desc,
        "ops": pipe.metrics.snapshot(),
    }
    if pipe.ch_sink is None:
        line["rows"] = pipe.current_state(spark).count()
    results.append(line)
    return True


def _changelog_tables(changelog_dir: str) -> list[tuple[str, str]]:
    """The (db, table) pairs a changelog root holds, for [[source]]
    wildcard expansion -- the file-source analog of the reference's
    information_schema query (river/river.go:203-209). A missing root
    lists nothing: the graceful no-op it always was."""
    pairs = []
    if os.path.isdir(changelog_dir):
        for entry in sorted(os.listdir(changelog_dir)):
            if "." in entry and os.path.isdir(
                    os.path.join(changelog_dir, entry)):
                db, _, tbl = entry.partition(".")
                pairs.append((db, tbl))
    return pairs


def _changelog_frame(spark, changelog_dir: str, rule, *,
                     bulk_size: int | None = None):
    """One rule's changelog parquet directory
    (`<changelog_dir>/<schema>.<table>/`): a batch frame, or with
    `bulk_size` a stream of at most that many files per trigger under
    the batch read's schema. None when the directory is absent."""
    src = os.path.join(changelog_dir,
                       f"{rule.source_schema}.{rule.source_table}")
    if not os.path.isdir(src):
        return None
    batch = spark.read.parquet(src)
    if bulk_size is None:
        return batch
    return (spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", bulk_size).parquet(src))


def _dump_frame(spark, dump_path: str, rule, *, multiline: bool):
    """One rule's table from a mysqldump snapshot as insert ops at
    seq=-1, sorting before every live change -- the bootstrap apply
    contract, so a later binlog drain upserts on top. None when the
    table is absent from the dump; a DumpFormatError propagates."""
    from pyspark.sql import functions as F

    from .sources.mysqldump import TableNotInDumpError, read_mysqldump
    try:
        df = read_mysqldump(spark, dump_path, rule.source_table,
                            multiline=multiline)
    except TableNotInDumpError:
        return None
    return df.select(F.lit(-1).cast("long").alias("seq"),
                     F.lit("insert").alias("op"), *df.columns)


def _binlog_frame(spark, binlog_dir: str, env_batch, rule, *,
                  bulk_size: int | None = None):
    """One rule's changelog from binlog files. The row schema comes
    from a sampled image of the batch envelope `env_batch`
    (_infer_row_ddl); the rows come from that batch, or with
    `bulk_size` from a new stream over `binlog_dir` with at most that
    many files per trigger. None while the table is absent from the
    binlogs."""
    from .sources.binlog import binlog_to_changelog, read_binlog_files
    ddl = _infer_row_ddl(env_batch, rule.source_schema, rule.source_table)
    if ddl is None:
        return None
    env = env_batch
    if bulk_size is not None:
        env = read_binlog_files(spark, binlog_dir, streaming=True,
                                max_files_per_trigger=bulk_size)
    return binlog_to_changelog(env, ddl, db=rule.source_schema,
                               table=rule.source_table)


def run(cfg: EngineConfig, changelog_dir: str, *, follow: bool = False,
        compact: bool = False, spark=None) -> list[dict]:
    spark = spark or get_spark("mysql-syncer-clickhouse-spark",
                               cpus=cfg.threads)
    pipes: list[StreamingSyncPipeline] = []
    results = _stat_lines(cfg, pipes)
    for rule in _rules_to_drain(cfg, _changelog_tables(changelog_dir)):
        cl = _changelog_frame(spark, changelog_dir, rule,
                              bulk_size=cfg.bulk_size)
        if cl is not None:
            _drain_rule(cfg, spark, rule, cl, follow=follow,
                        compact=compact, pipes=pipes, results=results)
    return results


def _infer_row_ddl(env_batch, db: str, table: str) -> str | None:
    """Row schema for one table from a sampled row image (ONE bounded
    collect: a single JSON string). The reference introspects live
    MySQL (river/river.go:166-180); with only binlog FILES the image
    itself is the source of truth. schema_of_json types numbers as
    BIGINT/DOUBLE and everything else (incl. the envelope's temporal/
    decimal renderings) as STRING -- a documented degrade vs a live
    information_schema; columns NULL in the sampled image come back
    STRING too."""
    from pyspark.sql import functions as F
    sample = (env_batch
              .filter((F.col("db") == db) & (F.col("table") == table))
              .select(F.coalesce("after", "before").alias("img"))
              .filter(F.col("img").isNotNull())
              .limit(1).collect())
    if not sample:
        return None
    row = env_batch.sparkSession.range(1).select(
        F.schema_of_json(F.lit(sample[0]["img"])).alias("s")).collect()
    return row[0]["s"]


def _binlog_tables(cfg: EngineConfig, env_batch) -> list | None:
    """The (db, table) pairs present in the binlogs, for [[source]]
    wildcard expansion (one full decode: a distinct over (db, table)).
    None without [[source]] blocks: effective_rules ignores the list
    then, so the decode would buy nothing."""
    if not cfg.sources:
        return None
    return [(r["db"], r["table"]) for r in
            env_batch.select("db", "table").distinct().collect()
            if r["db"] and r["table"]]


def _binlog_coord(file: str, pos: int) -> tuple[int, int]:
    """Total order of binlog coordinates: (file index, position), the
    index from the file name's numeric suffix (-1 without one)."""
    m = re.search(r"\.(\d+)$", file)
    return (int(m.group(1)) if m else -1, pos)


def run_binlog(cfg: EngineConfig, binlog_dir: str, *,
               follow: bool = False, compact: bool = False,
               follow_ddl: bool = False, ddl_stop=None,
               spark=None) -> list[dict]:
    """--binlog-dir mode: drain MySQL binlog FILES through the same
    per-rule drain (_drain_rule) as the changelog and dump modes --
    the reference's own topology (main.go:25-106: one replication
    stream fanned out by [[rule]]s). sources/binlog.py decodes the v4
    format (one file = one task). Each rule runs its own stream under
    its own checkpoint and decodes every new file itself, so N rules
    decode each new file N times -- there is no shared decode pass.
    Each rule's row schema is also sampled from a batch read of the
    retained files (_infer_row_ddl); the --checksum verifier builds
    its expected state through the same reader (_binlog_frame).
    Wildcard tables need [[source]] blocks: they expand against the
    (db, table) pairs of one more full decode, which runs only when
    such blocks exist.

    `follow_ddl` (the --follow half of --apply-ddl): a daemon thread
    polls the directory for NEW schema-changing QUERY events at
    flush_bulk_time cadence and applies them through run_apply_ddl's
    watermark, mirroring the per-cycle apply the --tail loop does.
    Fail-stop: the first apply error ends the poller (a drifting sink
    must not be papered over by continued polling) and is stashed on
    `ddl_stop.error` for the caller to surface. `ddl_stop` (a
    threading.Event; tests pass one to stop/inspect the poller --
    under the CLI the daemon thread simply dies with the process)."""
    from .sources.binlog import read_binlog_files
    spark = spark or get_spark("mysql-syncer-clickhouse-spark",
                               cpus=cfg.threads)
    pipes: list[StreamingSyncPipeline] = []
    results = _stat_lines(cfg, pipes)
    if follow_ddl and follow:
        import threading

        stop = ddl_stop if ddl_stop is not None else threading.Event()
        stop.error = None

        def _ddl_poll():
            while not stop.wait(max(cfg.flush_bulk_ms, 1) / 1000.0):
                try:
                    run_apply_ddl(cfg, binlog_dir, spark=spark)
                except Exception as e:          # fail-stop, LOUD
                    # the CLI never reads stop.error (the daemon dies
                    # with the process) -- without this line DDL
                    # replication would die silently while the row
                    # drain keeps running, the exact unreported drift
                    # the feature exists to close
                    print(f"ERROR: --apply-ddl poller stopped; the "
                          f"sink schema will NO LONGER track source "
                          f"DDL (rows keep draining): {e}",
                          file=sys.stderr, flush=True)
                    stop.error = e
                    return

        threading.Thread(target=_ddl_poll, daemon=True,
                         name="ddl-follow-poll").start()
        results.append({"mode": "apply_ddl_follow",
                        "cadence_ms": cfg.flush_bulk_ms})
    env_batch = read_binlog_files(spark, binlog_dir)
    for rule in _rules_to_drain(cfg, _binlog_tables(cfg, env_batch)):
        cl = _binlog_frame(spark, binlog_dir, env_batch, rule,
                           bulk_size=cfg.bulk_size)
        if cl is not None:
            _drain_rule(cfg, spark, rule, cl, follow=follow,
                        compact=compact, pipes=pipes, results=results)
    return results


def run_apply_ddl(cfg: EngineConfig, binlog_dir: str, *,
                  spark=None) -> list[dict]:
    """--apply-ddl: replicate schema-changing statements from the
    binlog stream into the ClickHouse sink, rule-mapped and TYPED --
    the gap the reference leaves open (it refreshes only its in-memory
    rule on DDL, river/sync.go:54-65; the ClickHouse table silently
    drifts). Incremental: a (file, pos) watermark in
    <data_dir>/_ddl.info makes repeated invocations apply only new
    statements, the same resume discipline as _master.info.

    Ordering contract: DDL applies at epoch boundaries -- run this
    between drain epochs (or on --follow's cadence); the in-band
    ensure_columns ADD-with-String-fallback remains the catch-all for
    columns that land mid-epoch (the ADD here is IF NOT EXISTS, so
    the two compose; re-typing an already-populated fallback column
    is deliberately NOT attempted -- ClickHouse MODIFY COLUMN on
    populated data is a rewrite a sync engine must not trigger
    implicitly)."""
    from .sources import ddl as ddlmod
    from .sources.binlog import read_binlog_ddl

    spark = spark or get_spark("mysql-syncer-clickhouse-spark",
                               cpus=cfg.threads)
    # the DDL chain sees the SAME effective rule set as the row
    # drains: [[source]]-only configs get identity rules; wildcard
    # rules keep working via map_action's event-time fullmatch
    ddl_rules = cfg.effective_rules(None).rules
    info_path = os.path.join(cfg.data_dir, "_ddl.info")
    mark = (-1, -1)
    saved: dict = {}
    if os.path.exists(info_path):
        try:
            with open(info_path) as fh:
                saved = json.load(fh)
        except json.JSONDecodeError as e:
            # the save below is atomic (tmp + os.replace), so a torn
            # file means external damage -- treating it as absent
            # would REPLAY non-idempotent statements (TRUNCATE,
            # RENAME COLUMN); refuse with the remedy instead
            raise ValueError(
                f"corrupt DDL watermark {info_path}: {e}; restore it "
                f"({{\"file\": ..., \"pos\": ...}}) or delete it to "
                f"deliberately re-apply from the first binlog "
                f"statement") from None
        mark = _binlog_coord(saved["file"], saved["pos"])
    ledger = ddlmod.ShadowLedger(saved.get("shadow"))

    rows = sorted(read_binlog_ddl(spark, binlog_dir).collect(),
                  key=lambda r: _binlog_coord(r["file"], r["pos"]))
    rows = [r for r in rows if _binlog_coord(r["file"], r["pos"]) > mark]
    results: list[dict] = []
    sinks: dict[str, object] = {}

    def _sink_for(rule):
        sink = sinks.get(rule.key)
        if sink is None:
            # pk in SINK space (field_mapping may rename a pk column;
            # clickhouse_ddl's non-Nullable guard compares sink names)
            pk = tuple(rule._field_parts(c)[0] for c in rule.pk)
            sink = _build_ch_sink(cfg, rule.sink_schema,
                                  rule.sink_table, [], pk)
            sinks[rule.key] = sink
        return sink

    for r in rows:
        try:
            actions = ddlmod.parse_mysql_ddl(r["query"],
                                             default_schema=r["db"])
        except ValueError as e:
            # loud, with the checkpoint coordinates: an unparseable
            # DDL means the sink may drift -- stopping here is the
            # same contract as DumpFormatError on a malformed dump
            raise ValueError(
                f"unparseable DDL at {r['file']}:{r['pos']}: {e} "
                f"(statement: {r['query'][:120]!r})") from None
        line = {"file": r["file"], "pos": r["pos"],
                "query": r["query"], "applied": []}
        # online-schema-change tracking (source-space, statement
        # order): gh-ost/pt-osc shadow tables accumulate in the
        # ledger; their RENAME cut-over replays the migration's
        # ALTERs onto the sink (or warns loudly -- nothing silent)
        for action in actions:
            replays, warns = ledger.observe(action, ddl_rules)
            for w in warns:
                print(f"WARN: {w}", file=sys.stderr, flush=True)
                line.setdefault("warnings", []).append(w)
            for rule, acts in replays:
                if not cfg.sink_addr:
                    line["applied"].append(
                        {"rule": rule.key, "osc_replay": True,
                         "skipped": "no sink_addr"})
                    continue
                stmts = ddlmod.apply_ddl_to_sink(_sink_for(rule), acts,
                                                 rule=rule)
                line["applied"].append({"rule": rule.key,
                                        "osc_replay": True,
                                        "statements": stmts})
        for rule in ddl_rules:
            mapped = [a for a in (ddlmod.map_action(a, rule)
                                  for a in actions) if a is not None]
            # a DDL that renames or drops a rule's pk column leaves
            # the [[rule]] config stale: later drains would select a
            # missing column and the sink's ORDER BY key is frozen at
            # CREATE time anyway -- surface it loudly, don't paper
            sink_pk = {rule._field_parts(c)[0] for c in rule.pk}
            for m in mapped:
                if (m.kind in ("rename_column", "change_column")
                        and m.column in sink_pk
                        and m.new_name != m.column) or \
                        (m.kind == "drop_column"
                         and m.column in sink_pk):
                    w = (f"DDL {m.kind} touches rule {rule.key!r}'s "
                         f"pk column `{m.column}`: the [[rule]] "
                         f"config still names the old column (update "
                         f"it before the next drain), and the sink's "
                         f"ORDER BY key is frozen at CREATE time -- "
                         f"re-bootstrap the sink table if the key "
                         f"itself must change")
                    print(f"WARN: {w}", file=sys.stderr, flush=True)
                    line.setdefault("warnings", []).append(w)
            if not all(a.kind == "ignored" for a in mapped):
                if not cfg.sink_addr:
                    line["applied"].append(
                        {"rule": rule.key, "skipped": "no sink_addr"})
                    continue
                stmts = ddlmod.apply_ddl_to_sink(_sink_for(rule),
                                                 actions, rule=rule)
                line["applied"].append({"rule": rule.key,
                                        "statements": stmts})
        results.append(line)
    if rows:
        os.makedirs(cfg.data_dir, exist_ok=True)
        last = rows[-1]
        # atomic: a crash mid-write must not leave torn JSON that
        # blocks every later run (MasterInfo.save's discipline)
        tmp = info_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"file": last["file"], "pos": last["pos"],
                       "shadow": ledger.to_state()}, fh)
        os.replace(tmp, info_path)
    results.append({"mode": "apply_ddl", "new_ddl_events": len(rows),
                    "watermark": info_path})
    return results


def run_retype(cfg: EngineConfig, binlog_dir: str, *,
               execute: bool = False, spark=None) -> list[dict]:
    """--retype: the DELIBERATE maintenance path for String-fallback
    columns. Columns that land mid-epoch arrive via ensure_columns as
    Nullable(String) (the reference's fallback mapping), and the
    epoch-boundary DDL apply NEVER re-types a populated column --
    correct, because an implicit ClickHouse MODIFY on populated data
    is a disk rewrite a sync engine must not trigger. This command
    completes the story: reconstruct each rule's CURRENT source
    column model from the full binlog DDL stream (no watermark -- a
    reconstruction, not an application), introspect the sink's
    CURRENT types, and for every column still sitting at the String
    fallback whose source type maps narrower, EMIT the `ALTER TABLE
    ... MODIFY COLUMN` -- executing it only under --execute, with the
    rewrite warning attached either way."""
    from .functions.typemap import mysql_to_clickhouse_type
    from .sources import ddl as ddlmod
    from .sources.binlog import read_binlog_ddl

    spark = spark or get_spark("mysql-syncer-clickhouse-spark",
                               cpus=cfg.threads)
    if not cfg.sink_addr:
        raise SystemExit("--retype needs sink_addr (a ClickHouse "
                         "sink to introspect)")
    rows = sorted(read_binlog_ddl(spark, binlog_dir).collect(),
                  key=lambda r: _binlog_coord(r["file"], r["pos"]))
    results: list[dict] = []
    _STRING_FALLBACK = ("String", "Nullable(String)")
    rules = cfg.effective_rules(None).rules
    # fold the rule-mapped DDL stream into per-rule sink-space column
    # models -- the same authority apply_ddl_to_sink uses. The fold
    # rides its own ShadowLedger (round 14): a pt-osc/gh-ost migration
    # carries the column's REAL type on the shadow table's ALTER, so
    # without replaying the cut-over here a String-fallback column
    # whose only type authority is that shadow ALTER would be
    # invisible to --retype (the OSC replay x retype composition).
    folded: dict[str, list] = {r.key: [] for r in rules}
    ledger = ddlmod.ShadowLedger()
    for r in rows:
        for a in ddlmod.parse_mysql_ddl(r["query"],
                                        default_schema=r["db"]):
            replays, _warns = ledger.observe(a, rules)
            for rep_rule, acts in replays:
                for act in acts:
                    m = ddlmod.map_action(act, rep_rule)
                    if m is not None and m.kind != "ignored":
                        folded[rep_rule.key].append(m)
            for rule in rules:
                m = ddlmod.map_action(a, rule)
                if m is not None and m.kind != "ignored":
                    folded[rule.key].append(m)
    for rule in rules:
        model: list[tuple[str, str, bool]] = []
        for mapped in folded[rule.key]:
            model = ddlmod.apply_to_columns(model, mapped)
        if not model:
            continue
        pk = tuple(rule._field_parts(c)[0] for c in rule.pk)
        sink = _build_ch_sink(cfg, rule.sink_schema, rule.sink_table,
                              [], pk)
        current = dict(sink.describe_columns())
        # seed the sink's column model with the CURRENT state: fallback
        # columns are 'text' until their MODIFY actually executes
        sink.columns = [
            (name, "text" if current.get(name) in _STRING_FALLBACK
             else mtype, nullable)
            for name, mtype, nullable in model if name in current]
        line = {"rule": rule.key, "mode": "retype",
                "executed": execute, "modify": []}
        for name, mtype, nullable in model:
            cur = current.get(name)
            target = mysql_to_clickhouse_type(
                mtype or "text", nullable and name not in pk)
            if cur not in _STRING_FALLBACK or \
                    target in _STRING_FALLBACK:
                continue
            if target.startswith(("Array(", "Map(", "Tuple(")):
                # structural conversion: ClickHouse MODIFY refuses
                # String -> Array/Map/Tuple outright -- emitting the
                # ALTER would just fail; the remedy is a rebuild
                line["modify"].append({
                    "column": name, "current": cur, "target": target,
                    "statement": None,
                    "manual": "String -> composite is not a MODIFY "
                              "ClickHouse accepts; add a new column "
                              "and backfill, or re-bootstrap the "
                              "table"})
                continue
            stmt = (f"ALTER TABLE `{rule.sink_schema}`."
                    f"`{rule.sink_table}` MODIFY COLUMN `{name}` "
                    f"{target}")
            entry = {"column": name, "current": cur, "target": target,
                     "statement": stmt,
                     "warning": "MODIFY COLUMN rewrites the column on "
                                "disk and String->narrow can fail on "
                                "unparseable values; run in a "
                                "maintenance window"}
            if execute:
                sink.execute(stmt)
                sink.columns = ddlmod.apply_to_columns(
                    list(sink.columns),
                    ddlmod.DdlAction("modify_column", rule.sink_schema,
                                     rule.sink_table, column=name,
                                     mysql_type=mtype,
                                     nullable=nullable))
                entry["columns_after"] = [list(c) for c in sink.columns]
            line["modify"].append(entry)
        if line["modify"]:
            results.append(line)
    results.append({"mode": "retype", "rules_with_candidates":
                    len(results), "executed": execute})
    return results


def _collect_diff(diff, diff_limit: int, line: dict) -> list[dict]:
    """Bounded collection of a drill-down report: at most diff_limit
    findings with an EXPLICIT truncation marker, plus -- on truncation
    only -- the per-status totals, so a capped report still says how
    much of each class it dropped (the no-silent-caps rule).  The
    frame persists across the two jobs so the window+join drill-down
    computes once."""
    diff = diff.persist()
    try:
        rows = [r.asDict() for r in
                diff.limit(diff_limit + 1).collect()]
        truncated = len(rows) > diff_limit
        line["diff_truncated"] = truncated
        if truncated:
            line["diff_status_totals"] = {
                r["status"]: r["count"]
                for r in diff.groupBy("status").count().collect()}
        rows = rows[:diff_limit]
        line["diff"] = rows
        return rows
    finally:
        diff.unpersist()


def run_checksum(cfg: EngineConfig, *, changelog_dir: str | None = None,
                 binlog_dir: str | None = None,
                 dump_path: str | None = None,
                 multiline: bool = False, buckets: int = 1024,
                 deep: bool = False, repair: bool = False,
                 execute: bool = False, checksum_url: str | None = None,
                 sample: tuple[int, int] | None = None,
                 final: bool = True,
                 diff_limit: int = 1000,
                 dup_grain: str = "pk", spark=None) -> list[dict]:
    """--checksum: verify the ClickHouse sink against the source of
    truth (pt-table-checksum for this engine -- the check the
    reference never had; rows flow through river/sync.go unverified).

    Per rule: reconstruct the EXPECTED sink state from the changelog /
    binlog stream (rule-projected, collapsed to max-seq per pk with
    tombstones kept -- exactly what a ReplacingMergeTree FINAL read
    should return), then compare per-bucket digests WITHOUT moving
    rows: the sink side is ONE server-resident aggregate query
    (cityHash64 canonical digests, operators/syncverify.py), the
    source side is the identical digest computed in Spark.  At 100 TB
    each side is one scan; the exchange is n_buckets rows of
    (count, xor, sum).

    Run it at a QUIESCED point: after an availableNow drain exits
    (caught up by construction) or in a maintenance window. Verifying
    a live, still-draining stream reports the sink honestly BEHIND,
    not corrupt -- digest-over-everything has no lag tolerance by
    design (a lag-aware checksum would need per-chunk freshness
    bookkeeping that can mask real divergence; pt-table-checksum has
    the same caveat on busy replicas).

    `deep`: read ONLY the mismatched buckets back and emit row-level
    findings (missing/extra/value_mismatch/duplicate).  `repair`:
    also emit repair statements (re-INSERT missing or changed rows --
    the sink's last-wins FINAL collapse upserts them; targeted ALTER
    DELETE for extras), executing them only under `execute`.  The
    sink side speaks whichever interface sink_addr does: host:port
    runs the digest SELECT (and drill-down/repair) over the NATIVE
    protocol -- the production sink's own wire, no HTTP port needed
    -- while http(s):// or an explicit --checksum-url uses HTTP; with
    NO ClickHouse configured at all, the rule's FILE sink (the
    default parquet changelog directory) verifies in spark mode
    against the user-facing state contract."""
    from pyspark.sql import functions as F

    from .operators import syncverify as sv

    spark = spark or get_spark("mysql-syncer-clickhouse-spark",
                               cpus=cfg.threads)
    if not (changelog_dir or binlog_dir or dump_path):
        raise SystemExit("--checksum needs --changelog-dir, "
                         "--binlog-dir and/or --dump-sql (the "
                         "source-of-truth stream/snapshot)")
    rotation_path = None
    if sample is not None and sample[1] is None:
        # M:auto -- the rotation counter persists next to the DDL
        # watermark so cron'd runs cover the whole keyspace over M
        # invocations with nobody tracking K by hand; same atomic
        # tmp+replace discipline as every other state file here
        m = int(sample[0])
        rotation_path = os.path.join(cfg.data_dir,
                                     "_checksum_rotation.json")
        rotation_state: dict = {}
        try:
            with open(rotation_path) as fh:
                rotation_state = json.load(fh)
        except FileNotFoundError:
            pass
        except (OSError, ValueError) as e:
            raise SystemExit(
                f"corrupt checksum rotation state {rotation_path}: "
                f"{e}; delete it to restart the rotation at K=0"
            ) from None
        sample = (m, int(rotation_state.get(str(m), 0)) % m)
    env_batch = None
    available: list | None = []
    if binlog_dir:
        from .sources.binlog import read_binlog_files
        env_batch = read_binlog_files(spark, binlog_dir)
        available = _binlog_tables(cfg, env_batch)
    elif changelog_dir:
        available = _changelog_tables(changelog_dir)
    # dump-only: no table listing to expand wildcards against --
    # effective_rules(None) keeps regex identity rules un-expanded,
    # and read_mysqldump's table lookup needs exact names anyway
    results: list[dict] = []
    for rule in cfg.effective_rules(available).rules:
        # the drains' own readers: a dump's snapshot rows sort before
        # every live change, so `--dump-sql snap.sql --binlog-dir d
        # --checksum` models the full snapshot-then-replicate state
        frames = []
        if dump_path:
            frames.append(_dump_frame(spark, dump_path, rule,
                                      multiline=multiline))
        if changelog_dir:
            frames.append(_changelog_frame(spark, changelog_dir, rule))
        if binlog_dir:
            frames.append(_binlog_frame(spark, binlog_dir, env_batch,
                                        rule))
        frames = [f for f in frames if f is not None]
        if not frames:
            continue
        raw = frames[0]
        for f2 in frames[1:]:
            raw = raw.unionByName(f2, allowMissingColumns=True)
        if cfg.skip_ops() and "op" in raw.columns:
            # the drain dropped these ops before apply (skip_delete/
            # skip_update); the EXPECTED state must drop them the same
            # way or every skipped event reads as sink drift
            raw = raw.filter(
                ~F.col("op").isin(list(cfg.skip_ops())))
        meta = [c for c in ("seq", "op") if c in raw.columns]
        payload = [c for c in raw.columns if c not in meta]
        projected = raw.select(*[F.col(c) for c in meta],
                               *rule.projection(payload))
        pk = [rule._field_parts(c)[0] for c in rule.pk]
        missing_pk = [c for c in pk if c not in projected.columns]
        if missing_pk:
            results.append({
                "rule": rule.key, "mode": "checksum",
                "error": (f"pk column(s) {missing_pk} not in the "
                          "source stream; declare an explicit "
                          "[[rule]] with id = [...] for this table")})
            continue
        if not (checksum_url or cfg.sink_addr):
            # FILE-sink verification (no ClickHouse configured -- the
            # engine's DEFAULT sink is a parquet changelog directory,
            # and it deserves the same check): both sides reduce to
            # the USER-facing state contract -- latest row per pk,
            # tombstones dropped, `op` excluded (compact() rewrites
            # it to 'insert') -- so the verdict holds before AND
            # after compaction. Spark-mode digests (JVM xxhash64),
            # one scan per side + the n_buckets exchange. The sink
            # side is the drain's own dedup-on-read view.
            from .operators.upsert import latest_state
            sink_path = cfg.sink_dir(rule)
            line = {"rule": rule.key, "mode": "checksum",
                    "sink": sink_path, "transport": "file",
                    "buckets": buckets}
            if sample is not None:
                line["sample"] = f"{sample[0]}:{sample[1]}"
            if not os.path.isdir(sink_path):
                line["error"] = ("file sink not found (nothing "
                                 "drained yet? run the drain first, "
                                 "or set sink_addr to verify a "
                                 "ClickHouse sink)")
                results.append(line)
                continue
            sink_state = StreamingSyncPipeline(
                rule, list(rule.pk), sink_path,
                cfg.checkpoint_dir(rule)).current_state(spark)
            report, diff = sv.sync_verify(
                latest_state(projected, pk), sink_state, pk, buckets,
                drill_down=deep, sample=sample, dup_grain=dup_grain)
            line["schema_missing_in_sink"] = \
                report["schema_missing_in_sink"]
            line["schema_extra_in_sink"] = \
                report["schema_extra_in_sink"]
            line.update({
                "rows_src": report["rows_src"],
                "rows_sink": report["rows_dst"],
                "buckets_mismatched": report["buckets_mismatched"],
                "in_sync": report["in_sync"],
            })
            if diff is not None:
                _collect_diff(diff, diff_limit, line)
            if repair:
                # no statements to emit against parquet: the drain is
                # an idempotent upsert, so the repair IS a re-drain
                line["repair_note"] = (
                    "file sinks repair by re-draining (apply is an "
                    "idempotent upsert) or by pipeline compact(); "
                    "no statements to emit")
            results.append(line)
            continue
        expected = sv.final_state_with_tombstones(projected, pk)

        sink = _build_ch_sink(cfg, rule.sink_schema, rule.sink_table,
                              [], tuple(pk), url=checksum_url)
        line: dict = {"rule": rule.key, "mode": "checksum",
                      "sink": f"{rule.sink_schema}.{rule.sink_table}",
                      "transport": sink.kind,
                      "buckets": buckets}
        try:
            ch_types = dict(sink.describe_columns())
        except sink.errors as e:
            line["error"] = f"sink introspection failed: {e}"
            results.append(line)
            continue
        try:
            engine = sink.table_engine()
        except sink.errors:
            engine = None              # system.tables restricted: ok
        if engine and any(s in engine for s in
                          ("Collapsing", "Summing", "Aggregating")):
            # the digest's EXPECTED state is the ReplacingMergeTree
            # last-wins contract (max seq per pk, tombstones kept);
            # a sign-collapse or summing engine's FINAL read obeys
            # different semantics, so findings would reflect the
            # ENGINE, not drift -- surface it loudly, don't guess
            w = (f"sink engine {engine} collapses by its own "
                 f"semantics, not the last-wins contract this "
                 f"checksum reconstructs; findings may reflect "
                 f"engine behavior rather than drift")
            print(f"WARN: {rule.key}: {w}", file=sys.stderr,
                  flush=True)
            line["engine_warning"] = w
        if sample is not None:
            line["sample"] = f"{sample[0]}:{sample[1]}" 
        if not ch_types:
            line["error"] = ("sink table not found (system.columns "
                            "returned nothing)")
            results.append(line)
            continue
        missing_pk = [c for c in pk if c not in ch_types]
        if missing_pk:
            line["error"] = (f"primary key column(s) {missing_pk} "
                             "absent from the sink table")
            results.append(line)
            continue
        cols_order = sv.ordered_cols(expected, pk)
        line["schema_missing_in_sink"] = [
            c for c in cols_order if c not in ch_types]
        line["schema_extra_in_sink"] = sorted(
            c for c in ch_types if c not in cols_order)
        common = [c for c in cols_order if c in ch_types]
        columns = [(c, ch_types[c]) for c in common]
        pk_pairs = [(c, ch_types[c]) for c in pk]
        exp_common = expected.select(*common)
        from pyspark.sql import types as _T
        binary_cols = {f.name for f in exp_common.schema.fields
                       if isinstance(f.dataType, _T.BinaryType)}
        try:
            src_rows = sv.spark_pushdown_digest(
                exp_common, columns, pk, buckets,
                sample=sample).collect()
            dst_rows = sink.digest(
                columns, pk, buckets, final=final,
                binary_cols=binary_cols, sample=sample)
        except ValueError as e:      # renderer refusal, with remedy
            line["error"] = str(e)
            results.append(line)
            continue
        except sink.errors as e:
            # a real server rejects FINAL on a plain-MergeTree sink,
            # among other per-table failures -- surface per rule with
            # the remedy instead of crashing the whole run
            detail = ""
            if hasattr(e, "read"):
                try:
                    detail = e.read().decode(errors="replace")[:300]
                except Exception:
                    pass
            line["error"] = (
                f"sink digest query failed: {e} {detail}".strip()
                + " -- if the sink engine does not support FINAL "
                "(plain MergeTree), re-run with --checksum-no-final "
                "(pre-merge duplicate versions then surface as "
                "duplicate_pk findings)")
            results.append(line)
            continue
        cmp = sv.compare_digests(src_rows, dst_rows)
        line.update({
            "rows_src": cmp.rows_src, "rows_sink": cmp.rows_dst,
            "buckets_mismatched": len(cmp.mismatched),
            "in_sync": cmp.in_sync
            and not line["schema_missing_in_sink"],
        })
        if deep and cmp.mismatched:
            # per-rule error handling, same as the digest phase: a
            # read-back refusal (an unsupported column type) records
            # the finding and moves on -- the digest verdict above
            # already stands
            try:
                dst = sink.read_back(
                    spark, exp_common.schema,
                    split_expr=sv.clickhouse_bucket_sql(
                        pk_pairs, buckets, binary_cols),
                    n_splits=buckets, split_values=cmp.mismatched,
                    final=final)
                diff = sv.row_diff(
                    exp_common, dst, pk, cmp.mismatched, buckets,
                    common,
                    bucket_src=sv.spark_bucket_col(
                        exp_common, pk_pairs, buckets),
                    bucket_dst=sv.spark_bucket_col(
                        dst, pk_pairs, buckets),
                    dup_grain=dup_grain)
                diff_rows = _collect_diff(diff, diff_limit, line)
            except ValueError as e:  # coercer refusal, with remedy
                line["deep_error"] = str(e)
                results.append(line)
                continue
            except sink.errors as e:
                line["deep_error"] = f"sink read-back failed: {e}"
                results.append(line)
                continue
            if repair:
                stmts = sv.repair_statements(
                    diff_rows, rule.sink_schema, rule.sink_table, pk,
                    engine=engine)
                if execute:
                    sink.execute_repairs(
                        stmts, columns, exp_common.schema)
                line["repair"] = stmts
                line["repair_executed"] = execute
        results.append(line)
    summary = {"mode": "checksum", "rules_checked":
               sum(1 for r in results if r.get("rule")),
               "out_of_sync": sorted(
                   r["rule"] for r in results
                   if r.get("rule") and not r.get("in_sync",
                                                  False))}
    if rotation_path is not None:
        # advance AFTER a completed sweep: a crashed run re-verifies
        # the same slice next time instead of silently skipping it
        rotation_state[str(sample[0])] = (sample[1] + 1) % sample[0]
        os.makedirs(cfg.data_dir, exist_ok=True)
        tmp = rotation_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rotation_state, fh)
        os.replace(tmp, rotation_path)
        summary["sample_rotation"] = {
            "ran": f"{sample[0]}:{sample[1]}",
            "next": f"{sample[0]}:{rotation_state[str(sample[0])]}"}
    results.append(summary)
    # persist the verdict for /stat's `last_verify` block (the stat
    # server runs in the drain process; this file is the bridge).
    # Best-effort: a bookkeeping write must never fail the report.
    import time as _time
    try:
        os.makedirs(cfg.data_dir, exist_ok=True)
        last_path = os.path.join(cfg.data_dir, "_checksum_last.json")
        tmp = last_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({
                "ts": _time.time(),
                "sample": (f"{sample[0]}:{sample[1]}"
                           if sample else None),
                "out_of_sync": summary["out_of_sync"],
                "rules": {
                    r["rule"]: {
                        "in_sync": r.get("in_sync"),
                        "buckets_mismatched":
                            r.get("buckets_mismatched"),
                        **({"error": r["error"]} if r.get("error")
                           else {}),
                    } for r in results if r.get("rule")},
            }, fh, default=str)
        os.replace(tmp, last_path)
    except OSError as e:
        print(f"WARN: could not persist checksum summary: {e}",
              file=sys.stderr, flush=True)
    return results


def run_dump(cfg: EngineConfig, dump_path: str, *,
             compact: bool = False, multiline: bool = False,
             spark=None) -> list[dict]:
    """--dump-sql mode: bootstrap every rule's sink from an EXISTING
    mysqldump .sql file -- the reference's own bootstrap transport
    (river shells out to mysqldump before tailing,
    river/river.go:111-146). Each rule's table parses line-parallel
    (sources/mysqldump.py) into op='insert', seq=-1 rows -- sorting
    before every live change event, exactly
    apply_snapshot_and_changelog's contract -- and applies as one
    batch epoch through the SAME per-rule drain (_drain_rule) as
    every other mode, so a subsequent --binlog-dir / --tail drain
    upserts on top idempotently. Compose: `--dump-sql snap.sql --tail
    @current` is the reference's full snapshot-then-replicate topology.

    The dump's header coordinates (CHANGE MASTER/REPLICATION SOURCE
    position, gtid_purged's executed set) are persisted into
    <data_dir>/_master.info, so `--tail @info` after a dump bootstrap
    resumes exactly where the snapshot was cut -- in GTID
    auto-position mode when the dump carried a set (survives server
    failover), by (file, pos) otherwise. A DumpFormatError (table
    present but not parseable one-statement-per-line) PROPAGATES --
    only tables genuinely absent from the dump are skipped.
    `multiline` (--dump-multiline) switches to the file-parallel
    statement-reassembly reader for hand-wrapped / non-mysqldump
    dumps (read_mysqldump's multiline contract)."""
    import glob as _glob

    from .sources.mysql_repl import MasterInfo
    from .sources.mysqldump import scan_dump_header
    spark = spark or get_spark("mysql-syncer-clickhouse-spark",
                               cpus=cfg.threads)
    results: list[dict] = [{"mode": "dump", "dump": dump_path}]
    # headers from EVERY matched file: a multi-file glob whose files
    # were cut at different positions must not silently resume from
    # the alphabetically-first header (it may predate the data the
    # other files supplied) -- conflicting headers refuse to persist
    hdrs = [(f, h) for f in sorted(_glob.glob(dump_path))
            for h in [scan_dump_header(f)] if any(h.values())]
    distinct = {tuple(sorted((k, v) for k, v in h.items() if v))
                for _, h in hdrs}
    hdr: dict = hdrs[0][1] if len(distinct) == 1 else {}
    if len(distinct) > 1:
        results[0]["header_conflict"] = [
            {"file": f, **{k: v for k, v in h.items() if v}}
            for f, h in hdrs]
        print(f"WARN: {len(hdrs)} dump files carry conflicting resume "
              f"headers; NOT persisting resume coordinates -- tail "
              f"from an explicit position or dump per-file",
              file=sys.stderr)
    if any(hdr.values()):
        results[0].update({k: v for k, v in hdr.items() if v})
    bootstrapped = 0
    for rule in _rules_to_drain(cfg, None):
        cl = _dump_frame(spark, dump_path, rule, multiline=multiline)
        if cl is not None:         # None: table absent from this dump
            bootstrapped += _drain_rule(
                cfg, spark, rule, cl, follow=False, compact=compact,
                pipes=[], results=results)
    if bootstrapped and any(hdr.values()):
        # persist the resume coordinates only AFTER every rule
        # bootstrapped, and only if AT LEAST ONE actually did: a
        # failed dump must not leave _master.info pointing past data
        # that never landed, and a mistargeted dump (every configured
        # table absent -> all rules skipped) must not advance the
        # resume position past binlog events that were never applied
        info = MasterInfo.load(os.path.join(cfg.data_dir,
                                            "_master.info"))
        if hdr["binlog_file"]:
            info.file, info.pos = hdr["binlog_file"], hdr["binlog_pos"]
        info.gtid_set = hdr["gtid_set"] or info.gtid_set
        info.mariadb_gtid = hdr["mariadb_gtid"] or info.mariadb_gtid
        info.save()
    return results


def run_dump_exec(cfg: EngineConfig, exec_path: str | None = None, *,
                  compact: bool = False, spark=None) -> list[dict]:
    """--dump-exec mode: EXECUTE mysqldump (the reference's snapshot
    phase, river/river.go:111,126-146) against cfg.source_addr with
    the rules' schema/tables, stream the output into
    <data_dir>/_dump/snapshot.sql, then bootstrap through the same
    line-parallel parse/apply path as --dump-sql. The first result
    line carries the binlog position the dump captured
    (--master-data=2), so `--dump-exec --tail @dump` is the
    reference's complete snapshot-then-replicate topology with no
    manual position hand-off."""
    from .sources.mysqldump import exec_mysqldump
    exec_path = exec_path or cfg.dump_exec or "mysqldump"
    host, _, port = (cfg.source_addr or "127.0.0.1:3306").rpartition(":")
    from .plans.rules import _is_regex_name
    schema_tables: dict[str, list[str]] = {}
    # wildcard patterns cannot be handed to mysqldump as table names
    # (the reference expands them via information_schema first); only
    # literal names -- incl. [[source]]-derived identity rules -- go
    # on the command line
    for rule in [r for r in cfg.effective_rules(None).rules
                 if not _is_regex_name(r.source_table)]:
        schema_tables.setdefault(rule.source_schema, []).append(
            rule.source_table)
    out_path = os.path.join(cfg.data_dir, "_dump", "snapshot.sql")
    info = exec_mysqldump(
        exec_path, out_path, host=host or "127.0.0.1",
        port=int(port or 3306), user=cfg.source_user or "root",
        password=cfg.source_pass or "",
        charset=cfg.source_charset,
        schema_tables=schema_tables,
        master_data=not cfg.skip_master_data)
    results = [{"mode": "dump-exec", "exec": exec_path,
                "dump": out_path, **info}]
    results += run_dump(cfg, out_path, compact=compact, spark=spark)[1:]
    return results


def run_tail(cfg: EngineConfig, start_file: str | None, *,
             relay_dir: str | None = None, start_pos: int = 4,
             compact: bool = False, follow: bool = False,
             max_cycles: int | None = None, sleep=None,
             apply_ddl: bool = False, spark=None) -> list[dict]:
    """--tail mode: the reference's FULL topology in one command
    (main.go:25-106) -- register as a pseudo-replica on
    cfg.source_addr with cfg.server_id, drain the binlog stream into
    relay files (catch-up: BINLOG_DUMP_NON_BLOCK, the server EOFs
    when we're current), then push the relay through the same
    rules/apply path as --binlog-dir. The tail auto-reconnects on
    network drops (tail_resumable), each connection writing a fresh
    relay segment, and repeated --tail invocations are append-safe
    the same way.

    `--tail --follow` is the reference's CONTINUOUS main loop: the
    relay drain starts as live streaming queries (processing-time
    trigger at flush_bulk_time, exactly --binlog-dir --follow), and
    the tail half re-dumps from the persisted master.info at the same
    cadence -- each cycle's new events land in a fresh relay segment
    the file source picks up. Re-streamed overlap maps to identical
    seq values, so the (pk, seq) apply dedups -- the serial socket
    and the distributed decode stay decoupled by design. `max_cycles`
    bounds the loop (tests; production runs unbounded), `sleep` is
    injectable.

    Every run persists <data_dir>/_master.info (file+pos AND the
    executed GTID set when the stream carries GTIDs -- canal's
    master.info analog); `--tail @info` resumes from it, preferring
    the GTID set so the resume survives SERVER FAILOVER (binlog file
    names are per-server; the executed set is portable)."""
    import time as _time

    from .sources.mysql_repl import (MasterInfo, ReplicationClient,
                                     tail_resumable)
    sleep = sleep or _time.sleep
    host, _, port = (cfg.source_addr or "127.0.0.1:3306").rpartition(":")
    relay = relay_dir or os.path.join(cfg.data_dir, "_relay")
    info_path = os.path.join(cfg.data_dir, "_master.info")
    info = MasterInfo.load(info_path)
    resume_from_info = start_file == "@info"
    if resume_from_info:
        start_file = None

    def factory():
        return ReplicationClient(host or "127.0.0.1", int(port),
                                 user=cfg.source_user or "root",
                                 password=cfg.source_pass or "",
                                 server_id=cfg.server_id,
                                 charset=cfg.source_charset or "utf8")

    n = tail_resumable(factory, relay, start_file, start_pos,
                       non_block=True, master_info=info,
                       resume_from_info=resume_from_info)
    out = [{"mode": "tail", "source": cfg.source_addr,
            "relay_dir": relay, "events_relayed": n,
            "master_info": {"file": info.file, "pos": info.pos,
                            "gtid_set": info.gtid_set}}]
    spark = spark or get_spark("mysql-syncer-clickhouse-spark",
                               cpus=cfg.threads)
    if apply_ddl:
        # relay files are raw binlog (QUERY events included): DDL
        # applies at the epoch boundary, BEFORE the rows that follow
        # it drain; the _ddl.info watermark dedups re-dumped overlap
        out.extend(run_apply_ddl(cfg, relay, spark=spark))
    out.extend(run_binlog(cfg, relay, follow=follow, compact=compact,
                          spark=spark))
    if not follow:
        return out
    cycles = 0
    total = n
    while max_cycles is None or cycles < max_cycles:
        sleep(max(cfg.flush_bulk_ms, 1) / 1000.0)
        # re-dump from the persisted coordinates: the catch-up (and
        # every prior cycle) advanced them, so each cycle streams only
        # what the server produced since -- plus a bounded overlap the
        # idempotent apply dedups
        total += tail_resumable(
            factory, relay, None, 4, non_block=True,
            master_info=MasterInfo.load(info_path),
            resume_from_info=True)
        if apply_ddl:
            out.extend(run_apply_ddl(cfg, relay, spark=spark))
        cycles += 1
    out[0]["events_relayed"] = total
    out[0]["cycles"] = cycles
    return out


def run_curate(src: str, out: str, *, min_quality: float = 0.5,
               seed: int = 0, spark=None) -> dict:
    """Batch corpus curation end-to-end: exact dedup (canonical keeper
    per fingerprint) -> PII redaction -> quality gate -> deterministic
    epoch-shuffled training shards. The CLI face of the curation layer,
    mirroring how the CDC face drains a changelog."""
    from pyspark.sql import functions as F

    from .functions import text as TX
    from .operators import curation, dedup
    spark = spark or get_spark("corpus-curate")
    docs = spark.read.parquet(src)
    n_in = docs.count()
    canon = dedup.exact_duplicates(docs, "doc_id", "text") \
        .select(F.col("canonical_id").alias("doc_id"))
    cleaned = (docs.join(canon, "doc_id")
               .withColumn("text", TX.redact_pii("text"))
               .withColumn("quality", TX.quality_score("text"))
               .filter(F.col("quality") >= min_quality))
    curation.write_training_shards(cleaned, out, seed=seed)
    n_out = spark.read.parquet(out).count()
    return {"mode": "curate", "docs_in": n_in, "docs_out": n_out,
            "min_quality": min_quality, "seed": seed, "sink": out}


def run_query(name: str, sf_dir: str, limit: int,
              explain: bool = False) -> dict:
    """Ad-hoc query mode: run any registry query by name against a
    fixture/sync directory and return rows as JSON -- the CLI face of
    the relational layer the reference delegates to clickhouse-client.
    `--query list` enumerates the registry."""
    from . import queries as registry
    qs = registry.all_queries()
    if name == "list":
        return {"mode": "query", "available": sorted(qs)}
    if name not in qs:
        raise SystemExit(f"unknown query {name!r}; --query list shows all")
    spark = get_spark("msc-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = qs[name](spark, sf_dir)
    if explain:
        from .plans.explain import formatted_plan
        return {"mode": "query", "query": name, "sf_dir": sf_dir,
                "plan": formatted_plan(df)}
    rows = [r.asDict(recursive=True) for r in df.limit(limit).collect()]
    return {"mode": "query", "query": name, "sf_dir": sf_dir,
            "n_rows": len(rows), "rows": rows}


def _parse_sample(text: str) -> tuple[int, int | None]:
    """An `M:K` bucket-sample flag value: (M, K), K None for M:auto.
    ValueError unless M > 0 and K is an integer or 'auto'."""
    m, _, k = text.partition(":")
    sample = (int(m), None if k == "auto" else int(k))
    if sample[0] <= 0:
        raise ValueError(text)
    return sample


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mysql_syncer_clickhouse_spark")
    ap.add_argument("--config", help="river.toml (reference-compatible)")
    ap.add_argument("--changelog-dir",
                    help="root of per-table changelog parquet dirs")
    ap.add_argument("--binlog-dir",
                    help="directory of MySQL binlog files (mysql-bin.N)"
                         " to drain instead of a parquet changelog")
    ap.add_argument("--tail", metavar="START_FILE", nargs="?",
                    const="@current",
                    help="register on [source_addr] as a pseudo-replica"
                         " (server_id from config), catch up the binlog"
                         " stream into <data_dir>/_relay, then drain it;"
                         " without START_FILE the current position is"
                         " resolved via SHOW MASTER STATUS; @info"
                         " resumes from <data_dir>/_master.info"
                         " (GTID-set auto-position when present, so the"
                         " resume survives server failover); @dump"
                         " resumes from --dump-exec's captured position")
    ap.add_argument("--relay-dir",
                    help="relay directory for --tail "
                         "(default <data_dir>/_relay)")
    ap.add_argument("--dump-sql", metavar="DUMP_GLOB",
                    help="bootstrap each rule's sink from mysqldump "
                         ".sql file(s) (snapshot rows at seq=-1); "
                         "composes with --tail/--binlog-dir, which "
                         "then upsert on top")
    ap.add_argument("--dump-multiline", action="store_true",
                    help="with --dump-sql: reassemble statements "
                         "spanning lines (file-parallel reader) for "
                         "hand-wrapped / non-mysqldump dumps")
    ap.add_argument("--dump-exec", metavar="PATH", nargs="?",
                    const="@config",
                    help="EXECUTE mysqldump (PATH, or the config's "
                         "`mysqldump` key) against source_addr for the"
                         " rules' tables, then bootstrap from its "
                         "output; `--tail @dump` resumes from the "
                         "binlog position the dump captured")
    ap.add_argument("--apply-ddl", action="store_true",
                    help="with --binlog-dir or --tail: replicate "
                         "ALTER/RENAME/TRUNCATE/DROP statements from "
                         "the binlog QUERY events to the ClickHouse "
                         "sink, rule-mapped and typed, before each "
                         "drain (and at flush_bulk_time cadence in "
                         "--follow modes); incremental via "
                         "<data_dir>/_ddl.info"
                         " (assumes the sink table exists -- run one "
                         "bootstrap drain first)")
    ap.add_argument("--retype", action="store_true",
                    help="with --binlog-dir: maintenance command for "
                         "String-fallback columns -- reconstruct each "
                         "rule's source column model from the binlog "
                         "DDL stream, introspect the ClickHouse sink, "
                         "and EMIT the MODIFY COLUMN statements for "
                         "fallback columns whose source type maps "
                         "narrower (execute them only with --execute)")
    ap.add_argument("--flavor", choices=["mysql", "mariadb"],
                    help="override the config's flavor (the "
                         "reference's -flavor flag)")
    ap.add_argument("--thread", type=int, metavar="N",
                    help="override the config's thread count (the "
                         "reference's -thread flag; sizes local "
                         "cores / shuffle partitions here)")
    ap.add_argument("--log-level", metavar="LEVEL",
                    help="Spark log level (the reference's "
                         "-log_level flag): ERROR, WARN, INFO, DEBUG")
    ap.add_argument("--skip-delete", action="store_true",
                    help="ignore delete events (the reference's "
                         "-delete flag; THERE it defaults on, here "
                         "skipping is explicit)")
    ap.add_argument("--skip-update", action="store_true",
                    help="ignore update events (the reference's "
                         "-update flag)")
    ap.add_argument("--checksum", action="store_true",
                    help="verify the ClickHouse sink against the "
                         "source-of-truth stream (--changelog-dir / "
                         "--binlog-dir) via per-bucket digests: the "
                         "sink side runs ONE server-resident "
                         "aggregate, no rows move")
    ap.add_argument("--buckets", type=int, default=1024,
                    help="digest bucket count for --checksum "
                         "(default 1024; size so a mismatched "
                         "bucket's rows are cheap to re-read)")
    ap.add_argument("--deep", action="store_true",
                    help="with --checksum: read mismatched buckets "
                         "back and report row-level findings")
    ap.add_argument("--repair", action="store_true",
                    help="with --checksum: emit repair statements "
                         "(implies --deep); executes them only with "
                         "--execute")
    ap.add_argument("--checksum-no-final", action="store_true",
                    help="digest the sink WITHOUT FINAL (required "
                         "for plain-MergeTree sinks; pre-merge "
                         "duplicate versions then surface as "
                         "duplicate findings)")
    ap.add_argument("--checksum-sample", metavar="M:K",
                    help="verify only buckets where bucket %% M == K "
                         "(rotating K over M cron runs covers the "
                         "whole keyspace at 1/M the hash cost per "
                         "run); M:auto persists the rotation counter "
                         "in data_dir so cron jobs need no K "
                         "bookkeeping")
    ap.add_argument("--dup-grain", choices=("pk", "row"),
                    default="pk",
                    help="--deep's duplicate-pk report grain: 'pk' "
                         "(default) emits ONE finding per pk whose "
                         "duplicate state differs between the sides "
                         "(src/dst counts attached; report stays "
                         "proportional to the divergence), 'row' "
                         "lists every duplicated pk per side, "
                         "balanced or not (the exhaustive "
                         "pre-OPTIMIZE inventory)")
    ap.add_argument("--checksum-url", metavar="URL",
                    help="force the digest SELECT over HTTP at this "
                         "endpoint (e.g. http://host:8123); by "
                         "default --checksum speaks sink_addr's own "
                         "protocol, including native TCP")
    ap.add_argument("--verify-after-drain", nargs="?", const="full",
                    metavar="M:K",
                    help="after an availableNow drain exits (caught "
                         "up by construction -- the quiesced point "
                         "--checksum wants), automatically verify the "
                         "sink: full digest by default, or a rotating "
                         "--checksum-sample slice M:K")
    ap.add_argument("--execute", action="store_true",
                    help="with --retype: actually run the emitted "
                         "MODIFY COLUMN statements (a disk rewrite -- "
                         "maintenance windows only)")
    ap.add_argument("--follow", action="store_true",
                    help="keep draining at flush_bulk_time cadence; "
                         "with --tail, also keep re-dumping from the "
                         "persisted master.info (the reference's "
                         "continuous main loop)")
    ap.add_argument("--compact", action="store_true",
                    help="rewrite each sink to its merged state after draining")
    ap.add_argument("--curate", metavar="DOCS_DIR",
                    help="curation mode: parquet docs dir to clean "
                         "(dedup + redact + quality gate + shards)")
    ap.add_argument("--curate-out", metavar="OUT_DIR",
                    help="output dir for curated training shards")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--selfcheck", metavar="NAMES", nargs="?",
                    const="@all",
                    help="validate the install: run registry queries "
                         "against their DuckDB oracle twins on the "
                         "--sf-dir fixture and compare rows/schema/"
                         "values (NAMES: comma list; default all)")
    ap.add_argument("--query", metavar="NAME",
                    help="run one registry query ('list' to enumerate)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="table directory for --query")
    ap.add_argument("--limit", type=int, default=100,
                    help="max rows printed by --query")
    ap.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan instead "
                         "of rows (with --query)")
    args = ap.parse_args(argv)
    if args.selfcheck:
        from .selfcheck import run_selfcheck
        names = (None if args.selfcheck == "@all"
                 else [n.strip() for n in args.selfcheck.split(",")])
        out = run_selfcheck(args.sf_dir, names)
        print(json.dumps(out, default=str))
        return 0 if not out["failed"] else 1
    if args.query:
        out = run_query(args.query, args.sf_dir, args.limit,
                        explain=args.explain)
        print(json.dumps(out, default=str))
        return 0
    if args.curate:
        if not args.curate_out:
            ap.error("--curate requires --curate-out")
        print(json.dumps(run_curate(args.curate, args.curate_out,
                                    min_quality=args.min_quality,
                                    seed=args.seed)))
        return 0
    if sum(map(bool, [args.changelog_dir, args.binlog_dir,
                      args.tail])) > 1:
        ap.error("--changelog-dir / --binlog-dir / --tail are exclusive")
    if not args.config or not (args.changelog_dir or args.binlog_dir
                               or args.tail or args.dump_sql
                               or args.dump_exec):
        ap.error("--config and one of --changelog-dir/--binlog-dir/"
                 "--tail/--dump-sql/--dump-exec are required (or use "
                 "--curate / --query)")
    if args.dump_sql and args.dump_exec:
        ap.error("--dump-sql / --dump-exec are exclusive")
    cfg = EngineConfig.from_toml(args.config)
    if args.flavor:
        cfg.flavor = args.flavor
    if args.thread:
        cfg.threads = args.thread
    if args.log_level:
        # direct assign: an explicit CLI flag outranks a pre-existing
        # env var (setdefault would silently let the env win)
        os.environ["SPARK_GRAFT_LOG_LEVEL"] = args.log_level.upper()
    if args.skip_delete:
        cfg.skip_delete = True
    if args.skip_update:
        cfg.skip_update = True
    if args.checksum:
        if not (args.changelog_dir or args.binlog_dir
                or args.dump_sql):
            ap.error("--checksum requires --changelog-dir, "
                     "--binlog-dir and/or --dump-sql (the "
                     "source-of-truth stream/snapshot)")
        if args.buckets < 1:
            ap.error("--buckets must be >= 1")
        sample = None
        if args.checksum_sample:
            try:
                sample = _parse_sample(args.checksum_sample)
            except ValueError:
                ap.error("--checksum-sample wants M:K with M > 0 "
                         "(e.g. 16:3), or M:auto for a persisted "
                         "rotation")
        for line in run_checksum(
                cfg, changelog_dir=args.changelog_dir,
                binlog_dir=args.binlog_dir, dump_path=args.dump_sql,
                multiline=args.dump_multiline, buckets=args.buckets,
                deep=args.deep or args.repair, repair=args.repair,
                execute=args.execute, checksum_url=args.checksum_url,
                sample=sample, final=not args.checksum_no_final,
                dup_grain=args.dup_grain):
            print(json.dumps(line, default=str))
        return 0
    if args.retype:
        if not args.binlog_dir:
            ap.error("--retype requires --binlog-dir (the DDL stream "
                     "the source model reconstructs from)")
        for line in run_retype(cfg, args.binlog_dir,
                               execute=args.execute):
            print(json.dumps(line))
        return 0
    lines = []
    dump_pos: tuple[str, int] | None = None
    if args.dump_sql:
        # snapshot bootstrap FIRST; a drain mode then upserts on top
        # (the reference's snapshot-then-replicate order)
        lines += run_dump(cfg, args.dump_sql, compact=args.compact,
                          multiline=args.dump_multiline)
        if lines and lines[0].get("binlog_file"):
            dump_pos = (lines[0]["binlog_file"], lines[0]["binlog_pos"])
    elif args.dump_exec:
        lines += run_dump_exec(
            cfg, None if args.dump_exec == "@config" else args.dump_exec,
            compact=args.compact)
        if lines and lines[0].get("binlog_file"):
            dump_pos = (lines[0]["binlog_file"], lines[0]["binlog_pos"])
    if args.tail:
        start_file, start_pos = (
            None if args.tail == "@current" else args.tail, 4)
        if args.tail == "@dump":
            if dump_pos is None:
                ap.error("--tail @dump requires --dump-exec or "
                         "--dump-sql with a captured binlog position "
                         "(master-data / source-data header)")
            start_file, start_pos = dump_pos
        lines += run_tail(cfg, start_file, start_pos=start_pos,
                          relay_dir=args.relay_dir,
                          follow=args.follow,
                          compact=args.compact,
                          apply_ddl=args.apply_ddl)
    elif args.binlog_dir:
        if args.apply_ddl:
            lines += run_apply_ddl(cfg, args.binlog_dir)
        lines += run_binlog(cfg, args.binlog_dir,
                            follow=args.follow, compact=args.compact,
                            follow_ddl=args.apply_ddl)
    elif args.changelog_dir:
        lines += run(cfg, args.changelog_dir,
                     follow=args.follow, compact=args.compact)
    if args.verify_after_drain:
        # an availableNow drain that just exited IS the quiesced point
        # run_checksum's contract asks for (its docstring argues this:
        # verifying a live stream reports "behind", not "corrupt") --
        # so the verification composes here, not in a separate cron
        if args.follow:
            ap.error("--verify-after-drain composes with availableNow "
                     "drains; a --follow loop never reaches the "
                     "quiesced point (run --checksum separately in a "
                     "maintenance window)")
        vsample = None
        if args.verify_after_drain != "full":
            try:
                vsample = _parse_sample(args.verify_after_drain)
            except ValueError:
                ap.error("--verify-after-drain wants M:K (e.g. 16:3),"
                         " M:auto for a persisted rotation, or no "
                         "value for the full digest")
        vb_dir = args.binlog_dir
        if args.tail:
            if not args.relay_dir:
                ap.error("--verify-after-drain with --tail needs "
                         "--relay-dir (the persisted relay binlogs "
                         "are the source of truth to digest)")
            vb_dir = args.relay_dir
        for line in run_checksum(
                cfg, changelog_dir=args.changelog_dir,
                binlog_dir=vb_dir, dump_path=args.dump_sql,
                multiline=args.dump_multiline, buckets=args.buckets,
                checksum_url=args.checksum_url, sample=vsample,
                final=not args.checksum_no_final,
                dup_grain=args.dup_grain):
            lines.append(line)
    for line in lines:
        print(json.dumps(line, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
