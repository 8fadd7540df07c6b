"""MySQL column type -> Spark DataType mapper.

Re-expresses the reference's MySQL -> ClickHouse DDL mapping
(TransferToCkTypeByColumnType, documented at reference README.md:165-266)
onto Spark types (SURVEY.md §1.2):

  u/int8|16|24|32|64 -> widened signed Spark ints (UInt64 -> Decimal(20,0))
  year -> short, bool -> byte, float/double -> float/double
  bit -> long, date -> date
  timestamp(n)/datetime(n) -> timestamp (us precision covers n<=6)
  decimal(M,D) -> Decimal(M,D); the reference's M>18 -> String fallback
  (a driver limitation) is opt-in via mirror_decimal_fallback
  enum/set -> string, json -> string (parse-on-demand), default -> string
  Nullable(T) -> StructField nullability
  list / list(inner) pseudo-types (the rules' ',list' transform and
  typed Spark arrays) -> ArrayType / Array(T), recursive, never
  Nullable-wrapped; unmapped array ELEMENT types refuse loudly
  map(key, value) pseudo-type (Spark map columns, e.g. the sumMap
  family's map<string,long> output) -> Map(K, V), recursive; value
  may be nullable(inner) (ClickHouse allows Map(K, Nullable(V)));
  keys are restricted to the types ClickHouse accepts as Map keys
  (string/int/date/datetime -- float, decimal, nested keys refuse)
"""

from __future__ import annotations

import re

from pyspark.sql import types as T


def split_type_args(s: str) -> list[str]:
    """Split a type-argument list on TOP-LEVEL commas only --
    'text, decimal(9,2)' -> ['text', 'decimal(9,2)']. Shared by the
    map(k,v) pseudo-type parser here and the native sink's Map wire
    encoder (one splitting authority, same nesting rules)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _tuple_fields(t: str) -> list[tuple[str, str, bool]]:
    """Parse 'tuple(f1 text, f2 nullable(bigint), ...)' -> (name,
    inner_type, nullable) triples. Field names must be plain
    identifiers (they land in ClickHouse DDL unquoted)."""
    m = re.match(r"tuple\s*\((.+)\)$", t)
    if not m:
        raise ValueError(f"tuple pseudo-type needs (name type, ...): {t!r}")
    out = []
    for part in split_type_args(m.group(1)):
        toks = part.split(None, 1)
        if len(toks) != 2 or not re.fullmatch(r"[A-Za-z_]\w*", toks[0]):
            raise ValueError(
                f"tuple field must be 'name type' with an identifier "
                f"name: {part!r}")
        name, ftype = toks
        mv = re.match(r"nullable\s*\((.+)\)$", ftype.strip())
        if mv:
            out.append((name, mv.group(1).strip(), True))
        else:
            out.append((name, ftype.strip(), False))
    return out


def _map_args(t: str) -> tuple[str, str, bool]:
    """Parse 'map(k, v)' / 'map(k, nullable(v))' -> (k, v,
    value_nullable). Bare 'map' means map(text, text)."""
    m = re.match(r"map\s*\((.+)\)$", t)
    if not m:
        return "text", "text", False
    args = split_type_args(m.group(1))
    if len(args) != 2:
        raise ValueError(
            f"map pseudo-type needs exactly (key, value): {t!r}")
    k, v = args
    mv = re.match(r"nullable\s*\((.+)\)$", v)
    if mv:
        return k, mv.group(1).strip(), True
    return k, v, False

_INT = {
    "tinyint": (T.ByteType(), T.ShortType()),
    "smallint": (T.ShortType(), T.IntegerType()),
    "mediumint": (T.IntegerType(), T.IntegerType()),
    "int": (T.IntegerType(), T.LongType()),
    "integer": (T.IntegerType(), T.LongType()),
    "bigint": (T.LongType(), T.DecimalType(20, 0)),
}


def mysql_to_spark_type(mysql_type: str, *,
                        mirror_decimal_fallback: bool = False) -> T.DataType:
    t = mysql_type.strip().lower()
    unsigned = "unsigned" in t
    base = re.split(r"[\s(]", t, 1)[0]

    if base == "list":
        # the rules' ',list' transform's pseudo-type. Bare 'list' is
        # array<string>; 'list(inner)' recurses for typed arrays --
        # 'list(bigint)' -> array<long>, 'list(list(int))' nests
        m = re.match(r"list\s*\((.+)\)$", t)
        if m:
            return T.ArrayType(mysql_to_spark_type(
                m.group(1), mirror_decimal_fallback=mirror_decimal_fallback))
        return T.ArrayType(T.StringType())
    if base == "map":
        k, v, vnull = _map_args(t)
        return T.MapType(
            mysql_to_spark_type(k, mirror_decimal_fallback=mirror_decimal_fallback),
            mysql_to_spark_type(v, mirror_decimal_fallback=mirror_decimal_fallback),
            vnull)
    if base == "tuple":
        return T.StructType([
            T.StructField(n, mysql_to_spark_type(
                ft, mirror_decimal_fallback=mirror_decimal_fallback), nul)
            for n, ft, nul in _tuple_fields(t)])
    if base == "uuid":
        # MariaDB 10.7+ native UUID column; canonical 36-char string
        # Spark-side, 16-byte ClickHouse UUID on the wire
        return T.StringType()
    if base in ("inet4", "inet6"):
        # MariaDB INET4/INET6 address columns; canonical string
        # Spark-side, ClickHouse IPv4 (UInt32) / IPv6 (16 bytes) on
        # the wire
        return T.StringType()
    if base in _INT:
        signed, widened = _INT[base]
        return widened if unsigned else signed
    if base == "year":
        return T.ShortType()
    if base in ("bool", "boolean"):
        return T.ByteType()
    if base == "float":
        return T.FloatType()
    if base in ("double", "real"):
        return T.DoubleType()
    if base == "bit":
        return T.LongType()
    if base in ("date", "date32"):
        # 'date32' is this engine's pseudo-type for wide-range dates:
        # same Spark DateType, but the ClickHouse image is Date32
        # (1900..2299) instead of Date (1970..2149) -- MySQL dates
        # outside the Date range refuse loudly at the native encoder
        return T.DateType()
    if base in ("datetime", "timestamp"):
        return T.TimestampType()
    if base == "time":
        return T.StringType()
    if base in ("decimal", "numeric"):
        m = re.match(r"(?:decimal|numeric)\s*\((\d+)\s*(?:,\s*(\d+))?\)", t)
        prec = int(m.group(1)) if m else 10
        scale = int(m.group(2)) if m and m.group(2) else 0
        if prec > 18 and mirror_decimal_fallback:
            # reference README.md:233-258: the CH driver can't bind
            # Decimal with M>18, so the reference falls back to String
            return T.StringType()
        if prec > 38:
            return T.StringType()
        return T.DecimalType(prec, scale)
    # enum/set decode to strings (transforms.enum_decode/set_decode);
    # char/varchar/*text/json and anything unknown -> string
    # (reference default fallback, README.md:166)
    return T.StringType()


# ---------------------------------------------------------------------------
# ClickHouse-side DDL emission (the reference's auto-CREATE,
# README.md:141-161 + TransferToCkTypeByColumnType README.md:165-266).
# The parquet sink doesn't need it, but a user pointing this engine at
# a real ClickHouse does -- emitting the same DDL the reference would.
# ---------------------------------------------------------------------------

_CH_INT = {"tinyint": "Int8", "smallint": "Int16", "mediumint": "Int32",
           "int": "Int32", "integer": "Int32", "bigint": "Int64"}


def mysql_to_clickhouse_type(mysql_type: str, nullable: bool = False) -> str:
    """MySQL column type -> ClickHouse type string, mirroring the
    reference's mapping (README.md:165-266): unsigned ints widen to
    UInt*, year->Int16, bool->Int8, bit->Int64, datetime(n)/
    timestamp(n) -> DateTime64(n), decimal M>18 -> String (the
    reference's go driver binds at most Decimal64), default String."""
    t = mysql_type.strip().lower()
    unsigned = "unsigned" in t
    base = re.split(r"[\s(]", t, 1)[0]

    if base == "list":
        # ',list' columns land as a real ClickHouse Array -- never
        # Nullable-wrapped (CH forbids Nullable(Array); a missing
        # value is the empty array). 'list(inner)' recurses:
        # list(bigint) -> Array(Int64), list(list(int)) nests -- the
        # native wire encoder is recursive over any inner encoder
        m = re.match(r"list\s*\((.+)\)$", t)
        if m:
            return f"Array({mysql_to_clickhouse_type(m.group(1), False)})"
        return "Array(String)"
    if base == "map":
        # Spark map columns (e.g. sumMap's map<string,long>) land as a
        # real ClickHouse Map -- never Nullable-wrapped (CH forbids
        # Nullable(Map); a missing value is the empty map). Keys must
        # be a type ClickHouse accepts as a Map key; values recurse
        # and may be nullable(inner) -> Nullable(V) (allowed for
        # scalar V; Array/Map values return unwrapped from their own
        # branches, matching CH's no-Nullable-composite rule).
        k, v, vnull = _map_args(t)
        ck = mysql_to_clickhouse_type(k, False)
        if not re.match(r"(String|U?Int\d+|Date32?|DateTime)", ck):
            raise ValueError(
                f"ClickHouse Map keys must be string/int/date types, "
                f"not {ck} (from map key type {k!r})")
        return f"Map({ck}, {mysql_to_clickhouse_type(v, vnull)})"
    if base == "tuple":
        # Spark struct columns (e.g. from_json typed output) land as a
        # NAMED ClickHouse Tuple -- never Nullable-wrapped (CH forbids
        # Nullable(Tuple); a missing value is a default-element tuple).
        # Per-field nullability recurses as Nullable(inner).
        inner = ", ".join(
            f"{n} {mysql_to_clickhouse_type(ft, nul)}"
            for n, ft, nul in _tuple_fields(t))
        return f"Tuple({inner})"
    if base == "uuid":
        out = "UUID"
        return f"Nullable({out})" if nullable else out
    if base in ("inet4", "inet6"):
        out = "IPv4" if base == "inet4" else "IPv6"
        return f"Nullable({out})" if nullable else out
    if base in _CH_INT:
        ch = _CH_INT[base]
        out = "U" + ch if unsigned else ch
    elif base == "year":
        out = "Int16"
    elif base in ("bool", "boolean"):
        out = "Int8"
    elif base == "float":
        out = "Float32"
    elif base in ("double", "real"):
        out = "Float64"
    elif base == "bit":
        out = "Int64"
    elif base == "date":
        out = "Date"
    elif base == "date32":
        out = "Date32"
    elif base in ("datetime", "timestamp"):
        m = re.match(r"(?:datetime|timestamp)\s*\((\d+)\)", t)
        out = f"DateTime64({m.group(1)})" if m else "DateTime"
    elif base in ("decimal", "numeric"):
        m = re.match(r"(?:decimal|numeric)\s*\((\d+)\s*(?:,\s*(\d+))?\)", t)
        # bare `decimal` means decimal(10,0) in MySQL
        prec = int(m.group(1)) if m else 10
        scale = int(m.group(2)) if m and m.group(2) else 0
        out = "String" if prec > 18 else f"Decimal({prec},{scale})"
    else:
        out = "String"
    return f"Nullable({out})" if nullable else out


def clickhouse_create_table_ddl(schema: str, table: str,
                                columns: list[tuple[str, str, bool]],
                                pk: tuple[str, ...],
                                engine: str = "ReplacingMergeTree",
                                engine_args: tuple[str, ...] = (),
                                ) -> str:
    """Emit the sink auto-CREATE the reference builds at runtime
    (README.md:141-161): ReplacingMergeTree ordered by the PK. Two
    deliberate divergences from the reference snippet, both bugs
    there: it emits ONLY the PK columns (data columns never reach
    addCkField), and its ORDER BY list stays empty (priArr is never
    appended). We emit every column and order by the actual PK; PK
    columns are non-Nullable (ClickHouse rejects Nullable ORDER BY
    keys by default).

    `engine`/`engine_args` widen the surface to the other CDC-relevant
    MergeTree engines (the read-time analogs live in
    operators/upsert.py): CollapsingMergeTree(sign),
    VersionedCollapsingMergeTree(sign, version),
    SummingMergeTree([cols...]). Engine-arg columns must exist."""
    allowed = {"ReplacingMergeTree", "CollapsingMergeTree",
               "VersionedCollapsingMergeTree", "SummingMergeTree",
               "MergeTree"}
    if engine not in allowed:
        raise ValueError(f"unsupported engine {engine!r} "
                         f"(supported: {sorted(allowed)})")
    names = {name for name, _, _ in columns}
    missing = [a for a in engine_args if a not in names]
    if missing:
        raise ValueError(f"engine arg columns not in table: {missing}")
    pkset = set(pk)
    cols = ", ".join(
        f"`{name}` {mysql_to_clickhouse_type(mtype, nullable and name not in pkset)}"
        for name, mtype, nullable in columns)
    # ClickHouse spells the empty sort key `ORDER BY tuple()`;
    # a literal `ORDER BY ()` is a syntax error
    order = ("(" + ", ".join(f"`{c}`" for c in pk) + ")") if pk else "tuple()"
    inner = ", ".join(f"`{a}`" for a in engine_args)
    if engine == "SummingMergeTree" and len(engine_args) > 1:
        inner = f"({inner})"     # multi-column form takes a tuple
    args = f"({inner})" if engine_args else ""
    return (f"CREATE TABLE IF NOT EXISTS `{schema}`.`{table}` ({cols}) "
            f"ENGINE = {engine}{args} ORDER BY {order}")


# ---------------------------------------------------------------------------
# Spark schema -> MySQL-typed column triples (the reverse direction):
# the CLI paths (parquet changelog, binlog envelope) know only the
# SPARK schema, while the ClickHouse sinks key their DDL and native
# block encoders on (name, mysql_type, nullable) triples. Round-
# tripping through a MySQL type string keeps ONE mapping authority
# (mysql_to_clickhouse_type) for both sinks.
# ---------------------------------------------------------------------------

def spark_type_to_mysql(dt: T.DataType) -> str:
    """Spark DataType -> the MySQL type string whose
    mysql_to_clickhouse_type image stores it faithfully."""
    if isinstance(dt, T.ByteType):
        return "tinyint"
    if isinstance(dt, T.ShortType):
        return "smallint"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.LongType):
        return "bigint"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "datetime(6)"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        et = dt.elementType
        if isinstance(et, T.StringType):
            return "list"    # ',list' transform output -> Array(String)
        if isinstance(et, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType, T.FloatType, T.DoubleType,
                           T.DateType, T.ArrayType)):
            # typed arrays recurse: array<long> -> list(bigint) ->
            # Array(Int64); the native encoder handles any nesting
            return f"list({spark_type_to_mysql(et)})"
        if isinstance(et, (T.MapType, T.StructType)):
            return f"list({spark_type_to_mysql(et)})"
        # REFUSE the rest loudly: the String catch-all would encode
        # array values through bytes(list) -- silent wire corruption
        raise ValueError(
            f"no ClickHouse Array mapping for array element type "
            f"{et.simpleString()}; supported elements: string, "
            f"tinyint..bigint, float, double, date, nested arrays")
    if isinstance(dt, T.MapType):
        # Spark map columns (sumMap/minMap/maxMap outputs and friends)
        # -> the map(k,v) pseudo-type -> ClickHouse Map(K, V). Key
        # types are checked here too (same rule as the CH side) so a
        # bad key refuses at schema time with the COLUMN in the error,
        # not at the first wire block. valueContainsNull carries as
        # nullable(v) for scalar values; Array/Map values stay
        # unwrapped (CH forbids Nullable composites -- a missing
        # nested value lands as []/{}), matching the list convention.
        kt = dt.keyType
        if not isinstance(kt, (T.StringType, T.ByteType, T.ShortType,
                               T.IntegerType, T.LongType, T.DateType,
                               T.TimestampType)):
            raise ValueError(
                f"no ClickHouse Map mapping for map key type "
                f"{kt.simpleString()}; supported keys: string, "
                f"tinyint..bigint, date, timestamp")
        vm = spark_type_to_mysql(dt.valueType)
        if dt.valueContainsNull and not isinstance(
                dt.valueType, (T.ArrayType, T.MapType, T.StructType)):
            vm = f"nullable({vm})"
        return f"map({spark_type_to_mysql(kt)},{vm})"
    if isinstance(dt, T.StructType):
        # Spark struct columns -> the tuple(name type, ...) pseudo-type
        # -> ClickHouse named Tuple. Field names must be plain
        # identifiers (they land in CH DDL unquoted) -- refuse loudly
        # otherwise; the old String catch-all crashed the native sink
        # on bytes(Row) at the first batch (same class the list/map
        # pseudo-types closed).
        parts = []
        for f in dt.fields:
            if not re.fullmatch(r"[A-Za-z_]\w*", f.name):
                raise ValueError(
                    f"no ClickHouse Tuple mapping for struct field name "
                    f"{f.name!r} (must be a plain identifier)")
            fm = spark_type_to_mysql(f.dataType)
            if f.nullable and not isinstance(
                    f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                fm = f"nullable({fm})"
            parts.append(f"{f.name} {fm}")
        return "tuple(" + ",".join(parts) + ")"
    # string/binary -> the reference's String fallback
    return "text"


def columns_from_spark_schema(schema: T.StructType) -> list[tuple]:
    """StructType -> (name, mysql_type, nullable) triples for the
    ClickHouse sinks' auto-CREATE and native block encode. Raises
    ValueError naming the COLUMN for array element types the authority
    can't map (better a loud refusal at attach time than corrupt wire
    bytes on the first batch)."""
    out = []
    for f in schema.fields:
        try:
            out.append((f.name, spark_type_to_mysql(f.dataType),
                        bool(f.nullable)))
        except ValueError as e:
            raise ValueError(f"column {f.name!r}: {e}") from None
    return out
