"""Sink connectors: ClickHouse over HTTP (sinks/clickhouse.py) and over
native TCP (sinks/clickhouse_native.py) -- one client per wire, each
serving the drain (ensure_table / apply_batch), --apply-ddl and
--retype (execute / describe_columns) and --checksum (table_engine /
digest / read_back / execute_repairs).

`ClickHouseTable` holds what the two wires share above the wire: the
auto-CREATE, mid-stream ALTER ADD COLUMN, the system-table
introspection statements and the split-id frame of the distributed
read-back. Each wire supplies `execute(sql)` and `_select(sql)`
(result rows; String columns come back as str)."""

from __future__ import annotations

from ..functions.typemap import (clickhouse_create_table_ddl,
                                 mysql_to_clickhouse_type)


class ClickHouseTable:
    """Mixin for the ClickHouse sink dataclasses: needs `database`,
    `table`, `columns`, `pk` and `_known_cols` fields plus the wire's
    `execute` and `_select`."""

    def ensure_table(self) -> str:
        """Run the reference's auto-CREATE (README.md:141-161) and
        return the DDL that was executed."""
        ddl = clickhouse_create_table_ddl(
            self.database, self.table, list(self.columns), self.pk)
        self.execute(ddl)
        return ddl

    def ensure_columns(self, batch_df) -> list[str]:
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
            ddls.append(
                f"ALTER TABLE `{self.database}`.`{self.table}` "
                f"ADD COLUMN IF NOT EXISTS `{c}` "
                f"{mysql_to_clickhouse_type(mtype, nullable)}")
            self._known_cols.add(c)
        for ddl in ddls:
            self.execute(ddl)
        return ddls

    def describe_columns(self) -> list[tuple[str, str]]:
        """The sink table's CURRENT (name, ClickHouse type) pairs,
        from system.columns -- the introspection --retype and
        --checksum key on. A missing table reads as no columns."""
        return [(r[0], r[1]) for r in self._select(
            f"SELECT name, type FROM system.columns WHERE database = "
            f"'{self.database}' AND table = '{self.table}' "
            f"ORDER BY position")]

    def table_engine(self) -> str | None:
        """The sink table's engine name (None when system.tables has
        no row for it)."""
        rows = self._select(
            f"SELECT engine FROM system.tables WHERE database = "
            f"'{self.database}' AND name = '{self.table}'")
        return rows[0][0].strip() if rows else None

    @staticmethod
    def _split_ids(spark, n_splits: int, split_values):
        """One row -- and one read-back task -- per split id: every id
        in [0, n_splits), or only `split_values` (the checker's
        drill-down reads just the mismatched buckets)."""
        if split_values is not None:
            vals = [int(v) for v in split_values]
            return spark.createDataFrame(
                [(v,) for v in vals], "id long").repartition(
                    max(1, len(vals)))
        return spark.range(n_splits).repartition(n_splits).toDF("id")
