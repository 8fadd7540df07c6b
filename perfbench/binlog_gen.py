"""Seeded binlog corpus for the sync workloads.

One corpus is a directory of MySQL binlog v4 files written through the
package's own encoder (`sources.binlog_writer`). Three tables are
interleaved:

- `shop.orders`    ruled, with a field rename (status -> order_status)
- `shop.customers` ruled, no rename
- `shop.audit`     sysbench's sbtest shape; no rule matches it, so every
                   drain must decode and skip it

The traffic follows two published workloads rather than invented ratios:

- A fresh history starts with a load of every table, ids 1..KEYSPACE,
  in multi-row inserts (sysbench's `prepare`).
- Then transactions in the shape of sysbench 1.0's `oltp_write_only`,
  with the defaults of its `oltp_common.lua` (`index_updates=1`,
  `non_index_updates=1`, `delete_inserts=1`). One transaction is an
  UPDATE of the indexed column (`k = k + 1`), an UPDATE of the
  non-indexed column (`c = <new text>`), then a DELETE of one id
  followed by an INSERT of the same id with new values, committed
  under one XID. So a transaction logs four single-row events: 50%
  updates, 25% deletes, 25% inserts.
- Each statement group picks its table uniformly, as sysbench does
  with `--tables`.
- Each one picks its id from a Zipfian over 1..KEYSPACE with YCSB's
  default constant 0.99 (`ZipfianGenerator.ZIPFIAN_CONSTANT`; Cooper et
  al., "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010). Rank
  r is id r, unscrambled. sysbench's own default id choice is uniform;
  the skew is taken from YCSB so that hot rows pile up versions for
  dedup-on-read to collapse.

KEYSPACE (the table sizes) is a budget choice, not taken from either
source.

Besides the bytes, the generator returns what a correct drain must
produce: the final state per table (a replay of the events in log
order) and the exact insert/update/delete row counts per table. Both
come from the generator's own bookkeeping, never from the program.
"""

from __future__ import annotations

import bisect
import itertools
import os
import random
from dataclasses import dataclass, field

from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
    BinlogColumn, BinlogFileWriter)

SCHEMA = "shop"

TABLES = {
    "orders": [BinlogColumn.bigint("id"),
               BinlogColumn.bigint("customer_id"),
               BinlogColumn.double("amount"),
               BinlogColumn.varchar("status", 16),
               BinlogColumn.varchar("note", 64)],
    "customers": [BinlogColumn.bigint("id"),
                  BinlogColumn.varchar("name", 32),
                  BinlogColumn.bigint("tier"),
                  BinlogColumn.double("balance")],
    "audit": [BinlogColumn.bigint("id"),
              BinlogColumn.bigint("k"),
              BinlogColumn.varchar("c", 120),
              BinlogColumn.varchar("pad", 60)],
}
TABLE_IDS = {"orders": 101, "customers": 102, "audit": 103}
# per table, the column sysbench's index update increments (its `k`)
# and the one its non-index update rewrites (its `c`)
K_COL = {"orders": 1, "customers": 2, "audit": 1}
C_COL = {"orders": 4, "customers": 1, "audit": 2}
KEYSPACE = {"orders": 500, "customers": 250, "audit": 250}
ZIPF_THETA = 0.99
PREPARE_BATCH = 100

RIVER_TOML = f"""
[[rule]]
schema = "{SCHEMA}"
table = "orders"
sink_schema = "olap"
sink_table = "orders"
id = ["id"]
[rule.field]
status = "order_status"

[[rule]]
schema = "{SCHEMA}"
table = "customers"
sink_schema = "olap"
sink_table = "customers"
id = ["id"]
"""

# sink column order after each rule's projection (renames applied)
SINK_COLUMNS = {
    "orders": ["id", "customer_id", "amount", "order_status", "note"],
    "customers": ["id", "name", "tier", "balance"],
}
RULED = ("orders", "customers")
_STATUSES = ("new", "paid", "shipped", "returned", "void")
_WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar",
          "sierra", "tango", "zulu")
# cumulative Zipfian weights per table: P(rank r) ~ 1 / r**ZIPF_THETA
_ZIPF_CDF = {t: list(itertools.accumulate(
    1.0 / r ** ZIPF_THETA for r in range(1, n + 1)))
    for t, n in KEYSPACE.items()}


@dataclass
class Corpus:
    """What a correct drain of the generated files must produce."""

    state: dict[str, dict[int, tuple]] = field(
        default_factory=lambda: {t: {} for t in TABLES})
    counts: dict[str, dict[str, int]] = field(
        default_factory=lambda: {t: {"insert": 0, "update": 0,
                                     "delete": 0} for t in TABLES})
    files: list[str] = field(default_factory=list)
    xids: int = 0

    def ruled_rows(self) -> int:
        """Row events a drain applies (rule-matched tables only)."""
        return sum(sum(self.counts[t].values()) for t in RULED)

    def fork(self) -> "Corpus":
        """A corpus that continues this one's history with its own op
        counts and file list: pass it to `write_corpus` for a delta."""
        return Corpus(state={t: dict(r) for t, r in self.state.items()},
                      xids=self.xids)


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _row(rng: random.Random, table: str, key: int) -> list:
    if table == "orders":
        return [key, rng.randrange(1, KEYSPACE["customers"] + 1),
                round(rng.uniform(1, 5000), 2), rng.choice(_STATUSES),
                _text(rng, 1, 5)]
    if table == "customers":
        return [key, f"cust-{key}-{rng.randrange(10**6)}",
                rng.randrange(0, 5), round(rng.uniform(-100, 9000), 2)]
    return [key, rng.randrange(1, KEYSPACE["audit"] + 1),
            _text(rng, 10, 18)[:120], _text(rng, 5, 8)[:60]]


def _new_c(rng: random.Random, table: str, key: int) -> str:
    """A fresh value for the table's non-indexed column."""
    return _row(rng, table, key)[C_COL[table]]


def _pick(rng: random.Random) -> tuple[str, int]:
    table = rng.choice(tuple(TABLES))
    cdf = _ZIPF_CDF[table]
    rank = bisect.bisect_right(cdf, rng.random() * cdf[-1])
    return table, min(rank, len(cdf) - 1) + 1


class _Writer(BinlogFileWriter):
    """A binlog file holding several tables: each rows event is
    preceded by a TABLE_MAP for its table, as the server logs them."""

    def __init__(self, base_ts: int):
        super().__init__(SCHEMA, "orders", TABLES["orders"],
                         table_id=TABLE_IDS["orders"], base_ts=base_ts)

    def use(self, table: str) -> None:
        self.table, self.columns = table, TABLES[table]
        self.table_id = TABLE_IDS[table]
        self._table_map()


def _prepare(w: _Writer, rng: random.Random, c: Corpus) -> None:
    """sysbench `prepare`: load ids 1..KEYSPACE of every table in
    multi-row inserts, one transaction per batch."""
    for table, n in KEYSPACE.items():
        for lo in range(1, n + 1, PREPARE_BATCH):
            rows = [_row(rng, table, k)
                    for k in range(lo, min(lo + PREPARE_BATCH, n + 1))]
            w.use(table)
            w.insert(rows)
            c.xids += 1
            w.xid(c.xids)
            for r in rows:
                c.state[table][r[0]] = tuple(r)
            c.counts[table]["insert"] += len(rows)


def _update(w: _Writer, c: Corpus, table: str, key: int, col: int,
            value) -> None:
    old = c.state[table][key]
    new = list(old)
    new[col] = value
    w.use(table)
    w.update([(list(old), new)])
    c.state[table][key] = tuple(new)
    c.counts[table]["update"] += 1


def _transaction(w: _Writer, rng: random.Random, c: Corpus) -> None:
    """One sysbench oltp_write_only transaction: index update,
    non-index update, delete + insert of the same id."""
    table, key = _pick(rng)                     # SET k = k + 1
    k = K_COL[table]
    _update(w, c, table, key, k, c.state[table][key][k] + 1)
    table, key = _pick(rng)                     # SET c = ?
    _update(w, c, table, key, C_COL[table], _new_c(rng, table, key))
    table, key = _pick(rng)                     # DELETE + INSERT
    w.use(table)
    w.delete([list(c.state[table][key])])
    new = _row(rng, table, key)
    w.insert([new])
    c.state[table][key] = tuple(new)
    c.counts[table]["delete"] += 1
    c.counts[table]["insert"] += 1
    c.xids += 1
    w.xid(c.xids)


def write_corpus(out_dir: str, seed: int, *, n_files: int,
                 txns_per_file: int, first_index: int = 1,
                 corpus: Corpus | None = None) -> Corpus:
    """Write `n_files` binlog files of `txns_per_file` transactions each
    into `out_dir`, named mysql-bin.NNNNNN from `first_index`. Without a
    `corpus` this is a fresh history, and its first file opens with the
    `prepare` load. Passing the `corpus` of an earlier call continues
    its history (a delta on top of it)."""
    rng = random.Random(seed)
    c = corpus if corpus is not None else Corpus()
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        idx = first_index + i
        w = _Writer(base_ts=1_700_000_000 + idx * 60)
        if corpus is None and i == 0:
            _prepare(w, rng, c)
        for _ in range(txns_per_file):
            _transaction(w, rng, c)
        path = os.path.join(out_dir, f"mysql-bin.{idx:06d}")
        with open(path, "wb") as f:
            f.write(w.to_bytes())
        c.files.append(path)
    return c
