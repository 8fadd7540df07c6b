"""The benchmark's workloads. Each takes a Run, does its set-up, its
untimed warm-up and its timed iterations, checks its outputs into
`run.check`, and returns its end-to-end figures; in traced mode it also
fills `run.layers` with the per-layer figures."""

from __future__ import annotations

import collections
import os
import random
import shutil
import time
import tomllib
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import binlog_gen as G
from .harness import (SLOTS, WORK, ProgressLog, Tracer, flush_listeners,
                      gc_barrier, jit_cpu_seconds, jvm_gc_seconds, jvm_pid,
                      median, percentile, stage_ledger, tree_cpu_seconds,
                      watermark)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)

    def check(self, what: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {detail}"[:400])


class Meter:
    """Wall and CPU seconds summed over the timed parts of one
    iteration. `cpu` is the user + system time of the Spark process
    tree and this process, which a neighbour on a shared host barely
    moves, less the driver JVM's JIT compiler threads; those are kept
    apart in `jit`. JIT work fades as a JVM warms and is the noisiest
    part of the total (see NOTES.md)."""

    def __init__(self, pid: int):
        self.pid, self.wall, self.cpu, self.jit = pid, 0.0, 0.0, 0.0

    @contextmanager
    def timing(self):
        j0, c0 = jit_cpu_seconds(self.pid), tree_cpu_seconds(self.pid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - t0
            jit = jit_cpu_seconds(self.pid) - j0
            self.jit += jit
            self.cpu += tree_cpu_seconds(self.pid) - c0 - jit


def _timed_loop(run: Run, body, min_iters: int) -> dict:
    """Call body(i, meter) until `seconds` have passed and at least
    `min_iters` iterations ran, with a GC barrier before each; body
    times its job under `meter.timing()`. Returns the medians of job
    wall and CPU seconds. In traced mode every other iteration runs
    untraced, so the traced median minus the untraced median is the
    tracing overhead."""
    traced, plain, cpu, jit = [], [], [], []
    pid = jvm_pid()
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i < min_iters or time.perf_counter() < t_end:
        on = run.trace and i % 2 == 0
        run.tracer.enabled = on
        run.tracer.iteration = i
        gc_barrier(run.spark)
        gc0 = jvm_gc_seconds(run.spark)
        meter = Meter(pid)
        body(i, meter)
        cpu.append(meter.cpu)
        jit.append(meter.jit)
        (traced if on else plain).append(meter.wall)
        if on:
            run.layers.setdefault("_gc", []).append(
                jvm_gc_seconds(run.spark) - gc0)
        i += 1
    run.tracer.enabled = run.trace
    run.tracer.iteration = None
    run.report["iter_s"] = traced + plain
    run.report["iter_cpu_s"] = cpu
    run.report["iter_jit_cpu_s"] = jit
    if run.trace:
        run.layers["trace.overhead_s"] = median(traced) - median(plain)
        run.layers["jvm.jit_cpu_s"] = median(jit)
        run.layers["jvm.gc_s"] = median(run.layers.pop("_gc"))
    return {"job_s": median(plain or traced), "job_cpu_s": median(cpu)}


# ------------------------------------------------------ sync_delta_read

# history: the prepare load (1,000 rows) plus 4 x 40 transactions;
# delta: 2 x 25 transactions (200 single-row events)
HIST_FILES, HIST_TXNS = 4, 40
DELTA_FILES, DELTA_TXNS = 2, 25
TOPK = 10


def _engine_cfg(data_dir: str):
    from mysql_syncer_clickhouse_spark.config import EngineConfig
    cfg = EngineConfig.from_dict(tomllib.loads(G.RIVER_TOML))
    cfg.data_dir = data_dir
    cfg.bulk_size = 3
    cfg.threads = SLOTS
    cfg.max_open = SLOTS
    return cfg


def _pipes(cfg):
    from mysql_syncer_clickhouse_spark.streaming.pipeline import (
        StreamingSyncPipeline)
    return {r.source_table: StreamingSyncPipeline(
        r, list(r.pk), cfg.sink_dir(r), cfg.checkpoint_dir(r))
        for r in cfg.rules.rules}


def _check_drain(run: Run, what: str, out: list[dict], corpus) -> None:
    """Per-rule op counters and materialised row counts must equal the
    generator's, and the unruled table must yield no result line."""
    lines = {ln["rule"]: ln for ln in out if "rule" in ln}
    for t in G.RULED:
        ln = lines.get(f"{G.SCHEMA}:{t}".lower(), {})
        want = {op: n for op, n in corpus.counts[t].items() if n}
        run.check(f"{what} {t} ops", ln.get("ops") == want,
                  (ln.get("ops"), want))
        run.check(f"{what} {t} rows", ln.get("rows") == len(corpus.state[t]),
                  (ln.get("rows"), len(corpus.state[t])))
    run.check(f"{what} unruled table skipped", len(lines) == len(G.RULED),
              sorted(lines))


def _read_plan(seed: int, i: int, state) -> list[tuple]:
    """One iteration's read mix, (kind, table, arg): a group count, a
    top-k, a pk lookup of a live key and one of a key above the
    generator's keyspace (which must come back empty)."""
    rng = random.Random(seed * 7919 + i)
    t = G.RULED[i % 2]
    return [("group_count", "orders", None),
            ("pk_lookup", t, rng.choice(sorted(state[t]))),
            ("topk", "orders", None),
            ("pk_lookup", t, rng.randrange(G.KEYSPACE[t] + 1,
                                           G.KEYSPACE[t] * 2))]


def _expected(kind: str, table: str, arg, state):
    rows = state[table]
    if kind == "group_count":
        return sorted(collections.Counter(r[3] for r in rows.values())
                      .items())
    if kind == "pk_lookup":
        r = rows.get(arg)
        return [tuple(r)] if r is not None else []
    top = sorted(rows.values(), key=lambda r: (-r[2], r[0]))[:TOPK]
    return [(r[0], r[2]) for r in top]


def _read(spark, pipes, kind: str, table: str, arg):
    from pyspark.sql import functions as F
    df = pipes[table].current_state(spark)
    if kind == "group_count":
        return sorted((r[0], r[1]) for r in
                      df.groupBy("order_status").count().collect())
    if kind == "pk_lookup":
        cols = G.SINK_COLUMNS[table]
        return [tuple(r) for r in
                df.filter(F.col("id") == arg).select(*cols).collect()]
    return [(r[0], r[1]) for r in
            df.orderBy(F.col("amount").desc(), F.col("id"))
              .select("id", "amount").limit(TOPK).collect()]


def sync_delta_read(run: Run) -> dict:
    """Set-up syncs a binlog history into the file sink and snapshots
    the data dir. Each iteration restores the snapshot at the same
    absolute paths (the checkpoint records absolute source paths),
    lands a fixed delta, times run_binlog resuming from the checkpoint
    (freshness), then times a fixed read mix over the dedup-on-read
    state. The iteration's job time is the two together, so a sink
    change that trades apply cost for read cost shows in it."""
    from mysql_syncer_clickhouse_spark.__main__ import run_binlog
    spark, tr = run.spark, run.tracer
    binlogs = os.path.join(WORK, "binlogs")
    data = os.path.join(WORK, "data")
    snap = os.path.join(WORK, "snap")
    delta_dir = os.path.join(WORK, "delta")
    hist = G.write_corpus(binlogs, run.seed, n_files=HIST_FILES,
                          txns_per_file=HIST_TXNS)
    delta = G.write_corpus(delta_dir, run.seed + 1_000_003,
                           n_files=DELTA_FILES,
                           txns_per_file=DELTA_TXNS,
                           first_index=HIST_FILES + 1, corpus=hist.fork())
    delta_names = [os.path.basename(p) for p in delta.files]
    cfg = _engine_cfg(data)
    pipes = _pipes(cfg)
    progress = ProgressLog(spark) if run.trace else None

    setup = Meter(jvm_pid())
    with setup.timing(), tr.span("streaming.history_sync", "history"):
        out = run_binlog(cfg, binlogs, spark=spark)
    _check_drain(run, "history", out, hist)
    shutil.copytree(data, snap)
    lat: dict[str, list[float]] = collections.defaultdict(list)
    freshness: list[float] = []

    def reads(i: int, state, meter: Meter) -> None:
        for kind, table, arg in _read_plan(run.seed, i, state):
            t0 = time.perf_counter()
            with meter.timing(), \
                    tr.span(f"operators.upsert.read_{kind}", "read"):
                got = _read(spark, pipes, kind, table, arg)
            if i >= 0:
                lat[kind].append(time.perf_counter() - t0)
            want = _expected(kind, table, arg, state)
            run.check(f"read {kind} {table} {arg}", got == want,
                      (got[:3], want[:3]))

    def iteration(i: int, meter: Meter) -> None:
        shutil.rmtree(data)
        shutil.copytree(snap, data)
        for n in delta_names:
            p = os.path.join(binlogs, n)
            if os.path.exists(p):
                os.remove(p)
            shutil.copy(os.path.join(delta_dir, n), binlogs)
        if progress:
            progress.take()
        lo = watermark(spark) if tr.enabled else None
        t0 = time.perf_counter()
        with meter.timing(), tr.span("streaming.delta_drain", "delta"):
            out = run_binlog(cfg, binlogs, spark=spark)
        wall = time.perf_counter() - t0
        _check_drain(run, f"delta {i}", out, delta)
        if tr.enabled:
            _drain_layers(run, lo, wall, progress, binlogs)
        if i >= 0:
            freshness.append(wall)
        reads(i, delta.state, meter)

    tr.enabled = False
    with setup.timing():
        iteration(-1, Meter(jvm_pid()))             # warm-up
    tr.enabled = run.trace
    job = _timed_loop(run, iteration, min_iters=3)
    all_reads = [x for v in lat.values() for x in v]
    if run.trace:
        for kind, xs in lat.items():
            run.layers[f"operators.upsert.read_{kind}_s"] = median(xs)
        run.layers["operators.upsert.read_p50_s"] = median(all_reads)
        run.layers["operators.upsert.read_p90_s"] = percentile(all_reads,
                                                               0.9)
        _sink_file_layers(run, data)
        _native_layers(run, pipes)
        _decode_layer(run, binlogs)
    run.report.update({
        "freshness_s": median(freshness),
        "read_p50_s": median(all_reads),
        "read_p90_s": percentile(all_reads, 0.9),
        "reads": len(all_reads), "drains": len(freshness),
        "delta_rows": delta.ruled_rows(),
        **job})
    return {"setup_s": setup.cpu, "setup_wall_s": setup.wall,
            "setup_jit_cpu_s": setup.jit, "job_cpu_s": job["job_cpu_s"]}


def _drain_layers(run: Run, lo: int, wall: float, progress, binlogs):
    """One traced drain: stage ledger and streaming progress."""
    flush_listeners(run.spark)
    led = stage_ledger(run.spark, lo)
    on_disk = sum(os.path.getsize(os.path.join(binlogs, n))
                  for n in os.listdir(binlogs))
    ev = progress.take()
    trig = sum(e["ms"].get("triggerExecution", 0) for e in ev) / 1000.0
    add = sum(e["ms"].get("addBatch", 0) for e in ev) / 1000.0
    acc = run.layers.setdefault("_drains", [])
    acc.append({"passes": led["input_bytes"] / on_disk,
                "epochs": sum(1 for e in ev if e["rows"]),
                "add": add, "trig_over": trig - add,
                "pre": wall - trig})
    rows = run.layers["_drains"]
    run.layers["sources.decode_passes"] = median([r["passes"] for r in rows])
    run.layers["streaming.epochs"] = median([r["epochs"] for r in rows])
    run.layers["streaming.add_batch_s"] = median([r["add"] for r in rows])
    run.layers["streaming.trigger_overhead_s"] = median(
        [r["trig_over"] for r in rows])
    run.layers["streaming.pre_stream_s"] = median([r["pre"] for r in rows])


def _sink_file_layers(run: Run, data: str) -> None:
    files = size = 0
    for d, _, names in os.walk(data):
        if "_checkpoints" in d:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    run.layers["sinks.file.parquet_files"] = files
    run.layers["sinks.file.mb"] = size / 1e6


def _native_layers(run: Run, pipes) -> None:
    """The native ClickHouse sink on the drained row shape: the
    orders changelog rows, read back from the file sink, applied by
    the sink's own `apply_batch` to the loopback DrainServer (exact
    row and wire-byte counts); then the client-side encode + LZ4 +
    CityHash of the same rows, timed on its own."""
    from mysql_syncer_clickhouse_spark.functions.typemap import (
        columns_from_spark_schema)
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        ClickHouseNativeSink, compress_frame, encode_block)
    from mysql_syncer_clickhouse_spark.sinks.native_bench import DrainServer
    df = run.spark.read.parquet(pipes["orders"].sink_dir)
    srv = DrainServer().start()
    try:
        sink = ClickHouseNativeSink(
            host=srv.host, port=srv.port, database="olap", table="orders",
            columns=columns_from_spark_schema(df.schema), pk=("id",),
            max_open=SLOTS)
        sink.apply_batch(df, 0)
    finally:
        srv.stop()
    rows = [tuple(r) for r in df.collect()]
    run.check("native sink rows", srv.rows == len(rows),
              (srv.rows, len(rows)))
    cols = sink._ch_types(df.columns)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        compress_frame(encode_block(cols, rows))
        times.append(time.perf_counter() - t0)
    run.layers["sinks.native.rows"] = srv.rows
    run.layers["sinks.native.wire_bytes_per_row"] = (
        srv.wire_bytes / max(srv.rows, 1))
    run.layers["sinks.native.encode_s"] = median(times)


def _decode_layer(run: Run, binlogs: str) -> None:
    from mysql_syncer_clickhouse_spark.sources.binlog import (
        read_binlog_files)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        read_binlog_files(run.spark, binlogs).count()
        times.append(time.perf_counter() - t0)
    run.layers["sources.decode_s"] = median(times)


# ------------------------------------------------------------ analytics

MIX = ("cdc_op_counters", "dedup_minhash_lsh", "cdc_final_state")
QUERY_FIELDS = ("construct_s", "execute_s", "jobs", "tasks", "cpu_s",
                "shuffle_mb")


def analytics(run: Run) -> dict:
    """Set-up: one untimed warm-up sweep. Each timed sweep is, per
    entry, `clearCache` + GC barrier, a fresh `fn()` construction and
    its first `noop` execution. After the timed sweeps the frame each
    entry built in the last sweep is collected once, untimed, and
    compared with its registry DuckDB oracle by the package's own
    `selfcheck` comparator; those comparisons are the run's checks."""
    import duckdb

    from mysql_syncer_clickhouse_spark import queries as registry
    from mysql_syncer_clickhouse_spark import selfcheck
    from . import fixtures
    spark, tr = run.spark, run.tracer
    sf = fixtures.write_tables(os.path.join(WORK, "sf"), run.seed)
    fns, sql = registry.all_queries(), registry.all_oracle_sql()
    per: dict[str, dict[str, list]] = {
        n: collections.defaultdict(list) for n in MIX}
    last = {}

    def entry(name: str, meter: Meter) -> None:
        spark.catalog.clearCache()
        gc_barrier(spark)
        lo = watermark(spark) if tr.enabled else None
        t0 = time.perf_counter()
        with meter.timing(), tr.span(f"queries.{name}.construct",
                                     f"{name}:construct"):
            df = fns[name](spark, sf)
        construct = time.perf_counter() - t0
        t1 = time.perf_counter()
        with meter.timing(), tr.span(f"queries.{name}.execute",
                                     f"{name}:execute"):
            df.write.format("noop").mode("overwrite").save()
        execute = time.perf_counter() - t1
        last[name] = df
        if tr.enabled:
            p = per[name]
            p["construct_s"].append(construct)
            p["execute_s"].append(execute)
            both = stage_ledger(spark, lo)
            p["jobs"].append(both["jobs"])
            p["tasks"].append(both["tasks"])
            p["cpu_s"].append(both["cpu_s"])
            p["shuffle_mb"].append(both["shuffle_bytes"] / 1e6)

    setup = Meter(jvm_pid())
    tr.enabled = False
    for name in MIX:                                # fresh-JVM slope
        entry(name, setup)
    tr.enabled = run.trace

    def sweep(i: int, meter: Meter) -> None:
        for n in MIX:
            entry(n, meter)

    job = _timed_loop(run, sweep, min_iters=3)
    con = duckdb.connect()
    for t in selfcheck.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf}/{t}.parquet'")
    for name in MIX:
        df = last[name]
        try:
            r = selfcheck.compare_one(spark, con, lambda *_: df, sql[name],
                                      sf)
        except Exception as e:
            r = {"err": f"{type(e).__name__}: {e}"}
        run.check(f"{name} vs oracle",
                  all(r.get(k) for k in ("schema_match", "rows_match",
                                         "values_match")), r)
    if run.trace:
        for n in MIX:
            for f in QUERY_FIELDS:
                run.layers[f"queries.{n}.{f}"] = median(per[n][f])
    run.report.update({"sweep_s": job["job_s"], "mix": list(MIX), **job})
    return {"setup_s": setup.cpu, "setup_wall_s": setup.wall,
            "setup_jit_cpu_s": setup.jit, "job_cpu_s": job["job_cpu_s"]}


WORKLOADS = {"sync_delta_read": sync_delta_read, "analytics": analytics}
