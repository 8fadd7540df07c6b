"""Scalar transform library -- the reference's complete expression
surface (SURVEY.md §2.3, reference river/sync.go:242-315,428-455).

All pure Column -> Column functions built from JVM-side built-ins
(whole-stage codegen; no Python UDFs), and ANSI-mode-safe: `F.get`
instead of `element_at` (NULL on out-of-range instead of error),
`try_to_date`/`try_to_timestamp` instead of throwing parses.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def enum_decode(col: Column | str, labels: Sequence[str]) -> Column:
    """1-based ENUM index -> label; 0 / out-of-range / NULL -> ''.

    Mirrors river/sync.go:244-256 (invalid value logs a warning and
    yields the empty string, matching MySQL's '' for invalid enums).
    """
    arr = F.array(*[F.lit(x) for x in labels])
    return F.coalesce(F.get(arr, _c(col).cast("int") - 1), F.lit(""))


def set_decode(col: Column | str, labels: Sequence[str]) -> Column:
    """SET bitmask -> comma-joined labels (river/sync.go:257-269).
    Bit i set -> labels[i] included; concat_ws drops the unset NULLs."""
    c = _c(col).cast("long")
    parts = [
        F.when(c.bitwiseAND(F.lit(1 << i)) != 0, F.lit(lab))
        for i, lab in enumerate(labels)
    ]
    return F.concat_ws(",", *parts)


def bit_decode(col: Column | str) -> Column:
    """BIT(1) from a dump arrives as the raw byte '\\x01' (string);
    from the binlog as an int. '\\x01' -> 1, other strings -> 0,
    ints pass through (river/sync.go:270-280)."""
    s = _c(col).cast("string")
    return (
        F.when(s == F.lit("\x01"), F.lit(1).cast("long"))
        .otherwise(F.coalesce(s.try_cast("long"), F.lit(0)))
    )


def json_get(col: Column | str, path: str) -> Column:
    """JSON text -> extracted value at `path` (river/sync.go:286-297
    parses the whole document; point lookups are the query-layer use)."""
    return F.get_json_object(_c(col), path)


def date_parse(col: Column | str) -> Column:
    """'YYYY-MM-DD' -> date; zero date '0000-00-00' or unparseable ->
    NULL (river/sync.go:303-311; zero-date guard also applied on the
    sink side, clickhouse/client.go:181-184)."""
    c = _c(col)
    return F.when(c == "0000-00-00", F.lit(None).cast("date")) \
            .otherwise(F.try_to_date(c, "yyyy-MM-dd"))


def datetime_parse(col: Column | str) -> Column:
    """'YYYY-MM-DD HH:MM:SS' -> timestamp; zero datetime -> NULL.
    The reference passes DATETIME through as a string
    (river/sync.go:298-302) and relies on the sink's zero-date guard;
    we parse to a real timestamp type."""
    c = _c(col)
    return F.when(c.startswith("0000-00-00"), F.lit(None).cast("timestamp")) \
            .otherwise(F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")))


def csv_to_list(col: Column | str) -> Column:
    """The ',list' field transform: csv string -> array<string>
    (river/sync.go:431-438)."""
    return F.split(_c(col), ",")


def unix_to_ts(col: Column | str) -> Column:
    """The ',date' field transform: unix seconds -> timestamp
    (river/sync.go:439-448; reference formats to a string, we keep a
    typed timestamp)."""
    return F.timestamp_seconds(_c(col).cast("long"))


def int_normalize(col: Column | str) -> Column:
    """All int widths -> int64 (clickhouse/client.go:193-199). The
    reference round-trips through Atoi which truncates uint64 >
    MaxInt64 -- a bug we do NOT replicate (use uint64_normalize)."""
    return F.floor(_c(col)).cast("long")


def uint64_normalize(col: Column | str) -> Column:
    """UInt64-safe normalization: DECIMAL(20,0) holds the full range
    (SURVEY.md §1.2 risk #5)."""
    return _c(col).cast("decimal(20,0)")


def dict_get(df, dictionary, key_col: str, attr_cols,
             default: dict | None = None, dict_key: str | None = None,
             strict: bool = False):
    """The sink DB's dictGet / dictGetOrDefault surface: enrich rows
    with attributes looked up from a dimension dictionary by key.
    `dictionary` is a bounded-by-contract relation (the external-dict
    analog), so the lookup is a BROADCAST left join -- map-only, zero
    shuffles on the fact side, the dictionary cached on every executor
    exactly like the sink DB pins dictionaries in memory. Missing keys
    take `default[attr]` (or NULL), mirroring dictGetOrDefault.

    attr_cols: list of dictionary attribute columns to attach;
    dict_key: the dictionary's key column when named differently;
    strict=True guards against duplicate dictionary keys with a
    broadcast-side raise_error (ClickHouse rejects duplicates at
    dictionary load; a left join would silently multiply fact rows)."""
    from pyspark.sql import functions as F
    dict_key = dict_key or key_col
    attrs = list(attr_cols)
    d = dictionary.select(F.col(dict_key).alias("__dk"),
                          *[F.col(a).alias(f"__dv_{a}") for a in attrs])
    if strict:
        d = d.groupBy("__dk").agg(
            *[F.first(f"__dv_{a}").alias(f"__dv_{a}") for a in attrs],
            F.count(F.lit(1)).alias("__dn"))
        d = d.withColumn(
            f"__dv_{attrs[0]}",
            F.when(F.col("__dn") == 1, F.col(f"__dv_{attrs[0]}"))
             .otherwise(F.raise_error(F.concat(
                 F.lit("duplicate dictionary key: "),
                 F.col("__dk").cast("string"))))).drop("__dn")
    out = df.join(F.broadcast(d), F.col(key_col) == F.col("__dk"),
                  "left")
    for a in attrs:
        v = F.col(f"__dv_{a}")
        if default and a in default:
            v = F.coalesce(v, F.lit(default[a]))
        out = out.withColumn(a, v)
    return out.drop("__dk", *[f"__dv_{a}" for a in attrs])


def uniq_up_to(value_col, n: int):
    """The sink DB's uniqUpTo(N) aggregate: the exact distinct count
    while it is <= N, else N+1 ("more than N"). Used where the answer
    "many" is as good as the number (e.g. cardinality guards) -- the
    expression keeps Spark's partial-aggregated distinct but callers
    can swap in approx/bitmap paths past the cap. Returns an aggregate
    Column for groupBy().agg()."""
    from pyspark.sql import functions as F
    return F.least(F.countDistinct(value_col), F.lit(n + 1))
