"""Oracle-checked queries for the scalar transform library (SURVEY.md
§2.3 F1-F10). Inputs are derived deterministically from the `events`
fixture (same derivation in the SQL twin) so every MySQL-ism the
reference handles -- invalid enums, SET bitmasks, BIT bytes, zero
dates, csv lists, unix timestamps, JSON, unsigned ranges -- is checked
end-to-end against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import transforms as X
from ..operators.layout import z_value
from ..sources.tables import load_table

_ENUM_LABELS = ("e1", "e2", "e3")
_SET_LABELS = ("a", "b", "c")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# F10 + UInt64 safety: int normalization incl. beyond-int32 values.
# big_u64 is DECIMAL(20,0) internally (full uint64 range) but rendered
# as a string here: the driver's pandas value-hash treats Decimal
# objects engine-specifically (round-1 hash mismatch), while the
# digit string is identical everywhere.
def t_int_normalize(spark, sf_dir):
    ev = _events(spark, sf_dir)
    big = F.col("user_id") + F.lit(3748168280)   # UInt32-range survival
    return ev.select(
        "event_id",
        X.int_normalize(F.col("value")).alias("value_i64"),
        X.uint64_normalize(big).cast("string").alias("big_u64"),
    )


_INT_SQL = """
SELECT event_id,
       CAST(FLOOR(value) AS BIGINT) AS value_i64,
       CAST(CAST(user_id + 3748168280 AS DECIMAL(20,0)) AS VARCHAR) AS big_u64
FROM events
"""


# query-layer built-in surface: string / date / math scalar functions
# (the classes the reference delegates to ClickHouse, SURVEY §2.5)
def t_builtins(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("prio_u"),
        F.length("o_orderstatus").alias("status_len"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.date_trunc("quarter", "o_orderdate").alias("qtr"),
        F.round(F.sqrt(F.abs("o_totalprice")), 4).alias("sqrt_price"),
        F.round(F.log(10.0, F.col("o_totalprice") + 1), 6)
         .alias("log_price"),
        F.floor(F.col("o_totalprice") / 1000).alias("price_k"),
        # Morton z-value (operators/layout.z_value) over two bounded
        # dims -- the multi-dim clustering key, oracle-checked as pure
        # bit arithmetic
        z_value([F.col("o_custkey") % 1024, F.col("o_orderkey") % 1024],
                bits=10).alias("zval"),
    )


_BUILTINS_SQL = """
SELECT o_orderkey,
       UPPER(SUBSTRING(o_orderpriority, 3, 20)) AS prio_u,
       LENGTH(o_orderstatus) AS status_len,
       CONCAT_WS('|', o_orderstatus, o_orderpriority) AS tag,
       EXTRACT(YEAR FROM o_orderdate) AS yr,
       EXTRACT(MONTH FROM o_orderdate) AS mo,
       CAST(DATE_TRUNC('quarter', o_orderdate) AS TIMESTAMP) AS qtr,
       ROUND(SQRT(ABS(o_totalprice)), 4) AS sqrt_price,
       ROUND(LOG(10, o_totalprice + 1), 6) AS log_price,
       CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_k,
       -- CAST the SUM: DuckDB SUM(BIGINT) yields HUGEINT, which lands
       -- as float64 in pandas and hash-mismatches Spark's int64
       CAST((SELECT SUM((((o_custkey % 1024) >> i) & 1) * POWER(2, 2 * i)::BIGINT
                 + (((o_orderkey % 1024) >> i) & 1) * POWER(2, 2 * i + 1)::BIGINT)
        FROM generate_series(0, 9) t(i)) AS BIGINT) AS zval
FROM orders
"""


# ---------------------------------------------------------------------------
# merged registry queries
#
# The driver's correctness gate evaluates at most 50 registry entries,
# so per-transform queries over the SAME base table are merged into
# wide single-scan selects. The transforms themselves live in
# functions/transforms.py, where tests/test_transforms.py and the
# hypothesis suite exercise them directly.
# ---------------------------------------------------------------------------

# S6 type-map cases: representative MySQL column types covering every
# branch of mysql_to_clickhouse_type (unsigned widening, year, the
# DateTime64(n) precision carry, the M>18 decimal String fallback,
# bit, enum default). The query applies the REAL function to each and
# the oracle restates the expected strings from the reference's
# documented mapping (README.md:165-266) -- an independent check, not
# an echo.
_TYPEMAP_CASES = (
    "bigint unsigned", "tinyint", "mediumint unsigned", "year",
    "datetime(3)", "timestamp", "decimal(20,4)", "decimal(12,2)",
    "bit(5)", "enum('a','b')",
    # round 12: the typed-array pseudo-types (never Nullable-wrapped)
    # and the wide-range date
    "list", "list(bigint)", "date32",
    # round 12: map(k,v) pseudo-types (Spark map columns -> CH Map;
    # value nullability carries as Nullable(V))
    "map(text,bigint)", "map(text,nullable(double))",
    # round 12: tuple(name type,...) (Spark struct columns -> named
    # CH Tuple) and MariaDB's native uuid column
    "tuple(k text,n nullable(bigint))", "uuid",
)


def t_mysql_scalars(spark, sf_dir):
    """F1 enum + F2 set + F3 bit + F6/F9 zero-date guards + F8 unix->ts
    + F5 json (path + typed struct) + the S6 MySQL->ClickHouse type map
    in one scan of `events`: each column applies one functions/
    transforms.py transform to an input derived from `event_id`, `ts`
    or `props` (the oracle restates the same derivation); `ch_type`
    runs mysql_to_clickhouse_type (the sink auto-DDL mapper) over the
    _TYPEMAP_CASES row by row."""
    from ..functions.typemap import mysql_to_clickhouse_type
    ev = _events(spark, sf_dir)
    ch_types = F.array(*[F.lit(mysql_to_clickhouse_type(c))
                         for c in _TYPEMAP_CASES])
    ch_type = F.element_at(
        ch_types, (F.col("event_id") % len(_TYPEMAP_CASES))
        .cast("int") + 1)
    idx = (F.col("event_id") % 5).cast("int")
    mask = F.col("event_id") % 8
    bit_raw = F.when(F.col("event_id") % 2 == 1, F.char(F.lit(1))) \
               .otherwise(F.char(F.lit(2)))
    date_raw = (F.when(F.col("event_id") % 10 == 0, F.lit("0000-00-00"))
                 .when(F.col("event_id") % 10 == 1, F.lit("not-a-date"))
                 .otherwise(F.date_format("ts", "yyyy-MM-dd")))
    dt_raw = (F.when(F.col("event_id") % 10 == 0,
                     F.lit("0000-00-00 00:00:00"))
               .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")))
    secs = F.lit(1700000000) + F.col("event_id") * 3600
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        X.enum_decode(idx, _ENUM_LABELS).alias("enum_label"),
        X.set_decode(mask, _SET_LABELS).alias("set_csv"),
        X.bit_decode(bit_raw).alias("bit_val"),
        X.date_parse(date_raw).alias("d"),
        X.datetime_parse(dt_raw).alias("dt"),
        X.unix_to_ts(secs).alias("t"),
        X.json_get("props", "$.k").cast("int").alias("k"),
        F.isnotnull(parsed).alias("valid_json"),
        ch_type.alias("ch_type"),
    )


_MYSQL_SCALARS_SQL = """
SELECT event_id,
       CASE (event_id % 5) WHEN 1 THEN 'e1' WHEN 2 THEN 'e2'
                           WHEN 3 THEN 'e3' ELSE '' END AS enum_label,
       concat_ws(',',
         CASE WHEN ((event_id % 8) & 1) <> 0 THEN 'a' END,
         CASE WHEN ((event_id % 8) & 2) <> 0 THEN 'b' END,
         CASE WHEN ((event_id % 8) & 4) <> 0 THEN 'c' END) AS set_csv,
       CASE WHEN (CASE WHEN event_id % 2 = 1 THEN chr(1) ELSE chr(2) END)
            = chr(1) THEN 1 ELSE 0 END AS bit_val,
       CAST(try_strptime(
         CASE WHEN event_id % 10 = 0 THEN '0000-00-00'
              WHEN event_id % 10 = 1 THEN 'not-a-date'
              ELSE strftime(ts, '%Y-%m-%d') END,
         '%Y-%m-%d') AS DATE) AS d,
       try_strptime(
         CASE WHEN event_id % 10 = 0 THEN '0000-00-00 00:00:00'
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END,
         '%Y-%m-%d %H:%M:%S') AS dt,
       CAST(to_timestamp(1700000000 + event_id * 3600) AS TIMESTAMP) AS t,
       CAST(props->>'$.k' AS INT) AS k,
       (json_valid(props)) AS valid_json,
       CASE (event_id % 17)
         WHEN 0 THEN 'UInt64'        -- bigint unsigned
         WHEN 1 THEN 'Int8'          -- tinyint
         WHEN 2 THEN 'UInt32'        -- mediumint unsigned
         WHEN 3 THEN 'Int16'         -- year
         WHEN 4 THEN 'DateTime64(3)' -- datetime(3)
         WHEN 5 THEN 'DateTime'      -- timestamp
         WHEN 6 THEN 'String'        -- decimal(20,4): M>18 fallback
         WHEN 7 THEN 'Decimal(12,2)' -- decimal(12,2)
         WHEN 8 THEN 'Int64'         -- bit(5)
         WHEN 9 THEN 'String'        -- enum default
         WHEN 10 THEN 'Array(String)'   -- ',list' pseudo-type
         WHEN 11 THEN 'Array(Int64)'    -- list(bigint), round 12
         WHEN 12 THEN 'Date32'       -- date32 wide-range date
         WHEN 13 THEN 'Map(String, Int64)'  -- map(text,bigint), r12
         WHEN 14 THEN 'Map(String, Nullable(Float64))' -- nullable val
         WHEN 15 THEN 'Tuple(k String, n Nullable(Int64))' -- struct
         ELSE 'UUID'                 -- MariaDB native uuid
       END AS ch_type
FROM events
"""


def t_array_ops(spark, sf_dir):
    """F7 csv->list transform + array/map built-ins, one scan; every
    array output scalarized for the driver's hash. Round 8 adds the
    web-analytics columns (functions/web.py): a deterministic IPv4 /
    URL synthesized per row, round-tripped through IPv4StringToNum /
    NumToString / isIPAddressInRange and domain / topLevelDomain /
    firstSignificantSubdomain / extractURLParameter / cutQueryString
    -- all integer/string-exact, so the DuckDB oracle restates them
    without float-divergence risk (the trig-based geo functions stay
    pytest-only for exactly that reason)."""
    from ..functions import web as W

    ev = _events(spark, sf_dir)
    csv = F.concat_ws(",", F.col("event_type"),
                      F.col("user_id").cast("string"), F.lit("tail"))
    arr = X.csv_to_list(csv)
    arr2 = F.split(F.concat_ws(",", "event_type", "event_type"), ",")
    ipnum_src = F.pmod(F.col("user_id") * 2654435761, F.lit(1 << 32))
    ip = W.ipv4_num_to_string(ipnum_src)
    url = F.concat(F.lit("https://"), F.col("event_type"),
                   F.lit(".example.com/p/"),
                   F.col("user_id").cast("string"),
                   F.lit("?q="), F.col("event_type"),
                   F.lit("&id="), F.col("user_id").cast("string"),
                   F.lit("#frag"))
    return ev.select(
        "event_id",
        F.size(arr).alias("n_parts"),
        F.get(arr, 0).alias("part1"),
        F.get(arr, 1).alias("part2"),
        F.array_join(arr, "|").alias("joined"),
        F.size(arr2).alias("n_el"),
        F.array_contains(arr2, "click").alias("has_click"),
        F.array_join(F.sort_array(F.array_distinct(arr2)), "|")
         .alias("distinct_sorted"),
        F.element_at(F.create_map(F.lit("t"), F.col("event_type")), "t")
         .alias("map_val"),
        ip.alias("ip_str"),
        W.ipv4_string_to_num(ip).alias("ip_num"),
        W.is_ip_address_in_range(ip, F.lit("128.0.0.0/1"))
         .alias("ip_hi"),
        W.domain(url).alias("url_host"),
        W.top_level_domain(url).alias("url_tld"),
        W.first_significant_subdomain(url).alias("url_fss"),
        W.extract_url_parameter(url, "id").alias("url_id"),
        W.cut_query_string(url).alias("url_cut"),
    )


_ARRAY_OPS_SQL = """
SELECT event_id,
       len(parts) AS n_parts, parts[1] AS part1, parts[2] AS part2,
       array_to_string(parts, '|') AS joined,
       2 AS n_el,
       (event_type = 'click') AS has_click,
       event_type AS distinct_sorted,
       event_type AS map_val,
       ip_str,
       ip_num,
       (ip_num // 2147483648 = 1) AS ip_hi,
       event_type || '.example.com' AS url_host,
       'com' AS url_tld,
       'example' AS url_fss,
       CAST(user_id AS VARCHAR) AS url_id,
       'https://' || event_type || '.example.com/p/' || user_id
           AS url_cut
FROM (SELECT event_id, event_type, user_id,
             string_split(event_type || ',' || user_id || ',tail', ',') AS parts,
             CAST((ip_num // 16777216) % 256 AS VARCHAR) || '.' ||
             CAST((ip_num // 65536) % 256 AS VARCHAR) || '.' ||
             CAST((ip_num // 256) % 256 AS VARCHAR) || '.' ||
             CAST(ip_num % 256 AS VARCHAR) AS ip_str,
             ip_num
      FROM (SELECT *,
                   (user_id * 2654435761) % 4294967296 AS ip_num
            FROM events))
"""


QUERIES = {
    "t_mysql_scalars": t_mysql_scalars,
    "t_array_ops": t_array_ops,
    "t_int_normalize": t_int_normalize,
    "t_builtins": t_builtins,
}

ORACLE = {
    "t_mysql_scalars": _MYSQL_SCALARS_SQL,
    "t_array_ops": _ARRAY_OPS_SQL,
    "t_int_normalize": _INT_SQL,
    "t_builtins": _BUILTINS_SQL,
}
