"""Replication rule model -- the reference's per-table config
(river/rule.go:9-23, river/config.go:18-51, etc/river.toml:51-60).

A Rule declares: source -> sink routing (R3), the synced column subset
(R4, column filter), field renames with optional ',list'/',date'
transform suffixes (R5/F7/F8, river/sync.go:317-332,428-455), and the
primary key (R7 -- composite keys handled correctly, unlike the
reference which silently uses only the first pair,
river/sync.go:387-413).

`apply_projection` turns a Rule into a plain `select()` so Catalyst
column-prunes the scan -- the Spark analog of the reference pruning the
synced column set to the sink schema (river/river.go:293-312).
"""

from __future__ import annotations

import re
import tomllib
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.transforms import csv_to_list, unix_to_ts


@dataclass(frozen=True)
class Rule:
    source_schema: str
    source_table: str              # may be a regex (wildcard fan-in, S4)
    sink_schema: str
    sink_table: str
    pk: tuple[str, ...] = ("id",)
    column_filter: tuple[str, ...] | None = None   # None = all columns
    field_mapping: dict[str, str] = field(default_factory=dict)

    @property
    def key(self) -> str:
        # reference keys its rule map on lower(schema:table),
        # river/river.go:319-321
        return f"{self.source_schema}:{self.source_table}".lower()

    @property
    def sink(self) -> str:
        return f"{self.sink_schema}.{self.sink_table}"

    def _field_parts(self, src: str) -> tuple[str, str | None]:
        """'es_title' -> ('es_title', None); 'es_date,date' ->
        ('es_date', 'date')  (getFieldParts, river/sync.go:317-332)."""
        mapped = self.field_mapping.get(src, src)
        if "," in mapped:
            name, transform = mapped.split(",", 1)
            return (name or src), transform
        return mapped, None

    def projection(self, columns: list[str]) -> list[Column]:
        cols = [c for c in columns
                if self.column_filter is None or c in self.column_filter]
        out = []
        for c in cols:
            name, transform = self._field_parts(c)
            col = F.col(c)
            if transform == "list":
                col = csv_to_list(col)
            elif transform == "date":
                col = unix_to_ts(col)
            out.append(col.alias(name))
        return out

    def apply_projection(self, df: DataFrame) -> DataFrame:
        return df.select(*self.projection(df.columns))

    def pk_key(self) -> Column:
        """Composite-PK-correct document key (the reference intends
        'a:b' ids, river/river_test.go:109, but only uses the first
        column -- we do it right and note the divergence)."""
        return F.concat_ws(":", *[F.col(c).cast("string") for c in self.pk])


@dataclass
class RuleSet:
    rules: list[Rule]

    def match(self, schema: str, table: str) -> Rule | None:
        """Exact key match first, then regex source_table patterns
        (wildcard expansion, river/river.go:182-236)."""
        key = f"{schema}:{table}".lower()
        for r in self.rules:
            if r.key == key:
                return r
        for r in self.rules:
            if r.source_schema.lower() == schema.lower() and \
                    re.fullmatch(r.source_table, table, re.IGNORECASE):
                return r
        return None

    def table_regexes(self) -> list[str]:
        """The canal include-filter analog (river/river.go:114-118)."""
        return [rf"{r.source_schema}\.{r.source_table}" for r in self.rules]


def rules_from_config(cfg: dict) -> RuleSet:
    """Build rules from a parsed reference config. Accepts BOTH key
    shapes the reference uses: the shipped config's source_schema/
    source_table (etc/river.toml:56-60) and the older schema/table
    (river/river_test.go:88-124)."""
    rules = []
    for raw in cfg.get("rule", []):
        schema = raw.get("source_schema", raw.get("schema"))
        table = raw.get("source_table", raw.get("table"))
        rules.append(Rule(
            source_schema=schema,
            source_table=table,
            sink_schema=raw.get("sink_schema", schema),
            sink_table=raw.get("sink_table", table),
            pk=tuple(raw.get("id", ["id"])),
            column_filter=tuple(raw["filter"]) if "filter" in raw else None,
            field_mapping=dict(raw.get("field", {})),
        ))
    return RuleSet(rules)


def load_rules_toml(path: str) -> RuleSet:
    """Parse the reference's TOML [[rule]] shape (etc/river.toml:51-60)."""
    with open(path, "rb") as f:
        cfg = tomllib.load(f)
    return rules_from_config(cfg)


_REGEX_META = set("\\.+*?()|[]{}^$")


def _is_regex_name(table: str) -> bool:
    """Wildcard detection matching Go's regexp.QuoteMeta contract
    (river/river.go:196): only true regex metacharacters make a name
    a pattern. Python's re.escape also escapes '-', '#', etc., so
    `re.escape(t) != t` would misclassify a literal table named
    'my-table' as a wildcard."""
    return any(c in _REGEX_META for c in table)


def expand_source_rules(sources: list[dict], rules: RuleSet,
                        available: list[tuple[str, str]] | None = None,
                        ) -> RuleSet:
    """The reference's parseSource/prepareRule semantics
    (river/river.go:182-276): every [[source]] table gets a DEFAULT
    identity rule (newDefaultRule -- sink = source, river/river.go:162),
    wildcard source tables expand to per-table identity rules, and
    [[rule]] entries then OVERRIDE the defaults (a wildcard rule's
    id/field mapping lands on each expanded table,
    river/river.go:252-265).

    The reference expands wildcards against live information_schema
    (river/river.go:203-209); with file sources the AVAILABLE table
    list plays that role -- changelog directory names or the distinct
    (db, table) set actually present in the binlogs.  Without
    `available`, a wildcard source stays ONE regex identity rule,
    which the per-event fan-in path (S4) still routes; expansion just
    pins per-table sink names the way the reference does.

    Wildcard-overlay divergence, deliberate: the reference copies
    ONLY id/field mapping onto expanded tables and ignores any sink
    naming on a wildcard rule (river/river.go:262-264 touches ID and
    FieldMapping alone).  Here an explicit sink_schema is honored and
    an explicit sink_table routes every match into that one sink --
    what a user writing those keys plainly intends; leave them unset
    for the reference's per-table identity behavior.

    Kept LOOSE where the reference errors: a [[rule]] with no matching
    [[source]] stands alone here (the reference refuses,
    river/river.go:268-269) -- every pre-existing config in this repo
    and most tests drive rules without source blocks, and refusing
    them would break working deployments for ceremony.  The
    reference's own hard errors that guard real mistakes stay:
    duplicate source tables and empty schemas refuse."""
    defaults: dict[str, Rule] = {}
    seen: set[str] = set()
    for s in sources:
        schema = s.get("schema", "")
        if not schema:
            raise ValueError("empty schema not allowed for source "
                             "(river/river.go:193)")
        for table in s.get("tables", []):
            key = f"{schema}:{table}".lower()
            if key in seen:
                raise ValueError(
                    f"duplicate source table {schema}.{table} "
                    "(river/river.go:158-159,197-199)")
            seen.add(key)
            is_wild = _is_regex_name(table)
            if is_wild and available is not None:
                for (db, t) in available:
                    if db.lower() == schema.lower() and \
                            re.fullmatch(table, t, re.IGNORECASE):
                        defaults[f"{schema}:{t}".lower()] = Rule(
                            source_schema=schema, source_table=t,
                            sink_schema=schema, sink_table=t)
            else:
                defaults[key] = Rule(
                    source_schema=schema, source_table=table,
                    sink_schema=schema, sink_table=table)
    out: dict[str, Rule] = dict(defaults)
    for r in rules.rules:
        key = r.key
        is_wild = _is_regex_name(r.source_table)
        if is_wild and available is not None and sources:
            # wildcard rule: its pk/filter/mapping overlays every
            # expanded default it matches (river/river.go:252-265);
            # sink naming keeps the EXPANDED table (identity) unless
            # the rule renames explicitly. The RAW pattern rule stays
            # in the set either way -- it is what routes tables that
            # APPEAR MID-STREAM (the S4 fan-in path); expansion only
            # pins per-table sinks for tables already visible.
            for dkey, d in list(defaults.items()):
                if d.source_schema.lower() == \
                        r.source_schema.lower() and \
                        re.fullmatch(r.source_table, d.source_table,
                                     re.IGNORECASE):
                    sink_t = (r.sink_table
                              if r.sink_table != r.source_table
                              else d.source_table)
                    out[dkey] = Rule(
                        source_schema=d.source_schema,
                        source_table=d.source_table,
                        sink_schema=r.sink_schema,
                        sink_table=sink_t,
                        pk=r.pk, column_filter=r.column_filter,
                        field_mapping=r.field_mapping)
        out[key] = r
    return RuleSet(list(out.values()))
