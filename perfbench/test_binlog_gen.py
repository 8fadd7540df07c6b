"""Tests of the benchmark's binlog generator.

    python3 -m pytest perfbench/test_binlog_gen.py -q

1. Decoding the generated files with the package's byte-level decoder
   and replaying the row events in log order in plain Python gives the
   generator's expected final state and op counts.
2. A tiny `run_binlog` drain into the file sink, read back through
   `current_state`, matches the expected state bucket by bucket under
   `operators.syncverify.bucket_digest`.
3. The op mix is sysbench oltp_write_only's and the id choice is
   YCSB's Zipfian (see binlog_gen).
"""

from __future__ import annotations

import collections
import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import binlog_gen as G  # noqa: E402


def _replay(files):
    from mysql_syncer_clickhouse_spark.sources.binlog import (
        decode_binlog_file_bytes)
    state = {t: {} for t in G.TABLES}
    counts = {t: {"insert": 0, "update": 0, "delete": 0} for t in G.TABLES}
    for path in sorted(files, key=os.path.basename):
        with open(path, "rb") as f:
            envs = decode_binlog_file_bytes(os.path.basename(path), f.read())
        for e in sorted(envs, key=lambda e: (e["pos"], e["row_in_event"])):
            assert e["db"] == G.SCHEMA
            t = e["table"]
            img = json.loads(e["after"] or e["before"])
            row = tuple(img[c.name] for c in G.TABLES[t])
            counts[t][e["op"]] += 1
            if e["op"] == "delete":
                assert state[t].pop(row[0]) == row
            else:
                if e["op"] == "insert":
                    assert row[0] not in state[t]
                state[t][row[0]] = row
    return state, counts


def test_replay_reproduces_expected_state(tmp_path):
    hist = G.write_corpus(str(tmp_path / "h"), 5, n_files=3,
                          txns_per_file=75)
    delta = G.write_corpus(str(tmp_path / "d"), 6, n_files=2,
                           txns_per_file=25, first_index=4,
                           corpus=hist.fork())
    state, counts = _replay(hist.files)
    assert state == hist.state and counts == hist.counts
    state, _ = _replay(hist.files + delta.files)
    assert state == delta.state
    loaded = sum(G.KEYSPACE.values())
    assert sum(sum(c.values()) for c in hist.counts.values()) == (
        loaded + 4 * 225)
    assert sum(sum(c.values()) for c in delta.counts.values()) == 200
    # sysbench oltp_write_only: 2 updates, 1 delete, 1 insert per txn
    ops = {op: sum(c[op] for c in delta.counts.values())
           for op in ("insert", "update", "delete")}
    assert ops == {"insert": 50, "update": 100, "delete": 50}
    # the load leaves every id live, and delete + insert keeps it so
    for t, n in G.KEYSPACE.items():
        assert sorted(delta.state[t]) == list(range(1, n + 1))


def test_keys_are_zipfian():
    """Tables are picked uniformly; within a table, id 1 (rank 1) takes
    1 / zeta(n, theta) of the picks."""
    rng = random.Random(3)
    picks = collections.Counter(G._pick(rng) for _ in range(30000))
    for t, n in G.KEYSPACE.items():
        zeta = sum(1 / r ** G.ZIPF_THETA for r in range(1, n + 1))
        share = picks[(t, 1)] / sum(v for (u, _), v in picks.items()
                                    if u == t)
        assert abs(share - 1 / zeta) < 0.02, (t, share, 1 / zeta)
        assert abs(picks.total() / 3 - sum(
            v for (u, _), v in picks.items() if u == t)) < 600


def test_same_seed_same_bytes(tmp_path):
    a = G.write_corpus(str(tmp_path / "a"), 9, n_files=2, txns_per_file=20)
    b = G.write_corpus(str(tmp_path / "b"), 9, n_files=2, txns_per_file=20)
    for x, y in zip(a.files, b.files):
        assert open(x, "rb").read() == open(y, "rb").read()
    assert a.state == b.state


@pytest.fixture(scope="module")
def spark():
    from mysql_syncer_clickhouse_spark.session import get_spark
    os.environ.setdefault("PYTHONPATH", os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    s = get_spark("perfbench-tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_drain_matches_expected_by_bucket_digest(spark, tmp_path):
    from mysql_syncer_clickhouse_spark.__main__ import run_binlog
    from mysql_syncer_clickhouse_spark.operators.syncverify import (
        bucket_digest)
    from perfbench.workloads import _engine_cfg, _pipes
    corpus = G.write_corpus(str(tmp_path / "b"), 3, n_files=2,
                            txns_per_file=30)
    cfg = _engine_cfg(str(tmp_path / "data"))
    out = run_binlog(cfg, str(tmp_path / "b"), spark=spark)
    assert {ln["rule"]: ln["ops"] for ln in out} == {
        f"shop:{t}": {op: n for op, n in corpus.counts[t].items() if n}
        for t in G.RULED}
    pipes = _pipes(cfg)
    for t in G.RULED:
        cols = G.SINK_COLUMNS[t]
        got = pipes[t].current_state(spark).select(*cols)
        want = spark.createDataFrame(list(corpus.state[t].values()),
                                     got.schema)
        digest = [sorted(tuple(r) for r in
                         bucket_digest(df, ["id"], 16, cols).collect())
                  for df in (got, want)]
        assert digest[0] == digest[1], t
        assert got.count() == len(corpus.state[t])
