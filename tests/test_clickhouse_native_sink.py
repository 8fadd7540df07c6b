"""ClickHouse NATIVE-TCP sink: hello/query/block framing against a
recording fake server (real sockets, no live ClickHouse in this
sandbox). The fake server's varint/string/block DECODERS are written
here, independently of the module under test -- the binlog strategy:
a test-side implementation of the same public format pins symmetric
bugs, and golden byte checks pin the encodings themselves."""

from __future__ import annotations

import datetime
import socket
import socketserver
import struct
import threading
from decimal import Decimal

import pytest

from mysql_syncer_clickhouse_spark.sinks import clickhouse_native as N
from mysql_syncer_clickhouse_spark.streaming.pipeline import start_stream
from tests.test_streaming import (
    ROWS_PART1, ROWS_PART2, SCHEMA_DDL, _write_part)

COLUMNS = [("seq", "bigint", False), ("op", "varchar(16)", True),
           ("id", "bigint", False), ("title", "varchar(64)", True),
           ("mydate", "bigint", True)]


# ----------------------------------------------- independent wire decode

def _rd_varint(r) -> int:
    n = shift = 0
    while True:
        b = r.read(1)[0]
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n
        shift += 7


def _rd_str(r) -> str:
    return r.read(_rd_varint(r)).decode()


def _wr_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _wr_str(s: str) -> bytes:
    b = s.encode()
    return _wr_varint(len(b)) + b


def _decode_column(r, ch_type: str, n: int) -> list:
    if ch_type.startswith("Nullable("):
        mask = r.read(n)
        inner = _decode_column(r, ch_type[9:-1], n)
        return [None if m else v for m, v in zip(mask, inner)]
    if ch_type == "String":
        return [r.read(_rd_varint(r)).decode() for _ in range(n)]
    fixed = {"Int8": "b", "Int16": "h", "Int32": "i", "Int64": "q",
             "UInt8": "B", "UInt16": "H", "UInt32": "I", "UInt64": "Q",
             "Float32": "f", "Float64": "d"}
    if ch_type in fixed:
        fmt = "<" + fixed[ch_type]
        w = struct.calcsize(fmt)
        return [struct.unpack(fmt, r.read(w))[0] for _ in range(n)]
    if ch_type == "Date":
        return [datetime.date(1970, 1, 1)
                + datetime.timedelta(days=struct.unpack(
                    "<H", r.read(2))[0]) for _ in range(n)]
    if ch_type == "Date32":
        return [datetime.date(1970, 1, 1)
                + datetime.timedelta(days=struct.unpack(
                    "<i", r.read(4))[0]) for _ in range(n)]
    if ch_type == "DateTime":
        return [datetime.datetime.fromtimestamp(
            struct.unpack("<I", r.read(4))[0], tz=datetime.timezone.utc)
            .replace(tzinfo=None) for _ in range(n)]
    if ch_type.startswith("DateTime64("):
        p = int(ch_type[11:-1].split(",")[0])
        out = []
        for _ in range(n):
            v = struct.unpack("<q", r.read(8))[0]
            us = v * 10 ** (6 - p) if p <= 6 else v // 10 ** (p - 6)
            out.append((datetime.datetime(1970, 1, 1)
                        + datetime.timedelta(microseconds=us)))
        return out
    if ch_type.startswith("Array("):
        offs = [struct.unpack("<Q", r.read(8))[0] for _ in range(n)]
        flat = _decode_column(r, ch_type[6:-1], offs[-1] if offs else 0)
        out, prev = [], 0
        for o in offs:
            out.append(flat[prev:o])
            prev = o
        return out
    if ch_type.startswith("Map("):
        # independent decode of the Map layout: cumulative entry
        # offsets, then the flat keys column, then the flat values
        # column (Array(Tuple) storage)
        from mysql_syncer_clickhouse_spark.functions.typemap import (
            split_type_args)
        kt, vt = split_type_args(ch_type[4:-1])
        offs = [struct.unpack("<Q", r.read(8))[0] for _ in range(n)]
        total = offs[-1] if offs else 0
        keys = _decode_column(r, kt, total)
        vals = _decode_column(r, vt, total)
        out, prev = [], 0
        for o in offs:
            out.append(dict(zip(keys[prev:o], vals[prev:o])))
            prev = o
        return out
    if ch_type == "Bool":
        return [bool(b) for b in r.read(n)]
    if ch_type.startswith("FixedString("):
        w = int(ch_type[12:-1])
        return [r.read(w).rstrip(b"\x00").decode() for _ in range(n)]
    if ch_type == "IPv4":
        import ipaddress
        return [str(ipaddress.IPv4Address(
            struct.unpack("<I", r.read(4))[0])) for _ in range(n)]
    if ch_type == "IPv6":
        import ipaddress
        return [str(ipaddress.IPv6Address(r.read(16)))
                for _ in range(n)]
    if ch_type.startswith("Enum8(") or ch_type.startswith("Enum16("):
        import re as _re
        body = ch_type[ch_type.index("(") + 1:-1]
        by_val = {int(m.group(2)):
                  m.group(1).replace("\\'", "'").replace("\\\\", "\\")
                  for m in _re.finditer(
                      r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)", body)}
        fmt = "<b" if ch_type.startswith("Enum8(") else "<h"
        w = struct.calcsize(fmt)
        return [by_val[struct.unpack(fmt, r.read(w))[0]]
                for _ in range(n)]
    if ch_type.startswith("LowCardinality("):
        # independent decode: version, serialization_type (additional-
        # keys bit + index width code), dictionary via the BASE
        # decoder, then indices; Nullable inner reserves slot 0 = NULL
        inner = ch_type[15:-1].strip()
        null_inner = inner.startswith("Nullable(")
        base = inner[9:-1] if null_inner else inner
        assert struct.unpack("<Q", r.read(8))[0] == 1
        ser = struct.unpack("<Q", r.read(8))[0]
        assert ser & (1 << 9)
        fmt = {0: "<B", 1: "<H", 2: "<I", 3: "<Q"}[ser & 0xFF]
        w = struct.calcsize(fmt)
        nk = struct.unpack("<Q", r.read(8))[0]
        keys = _decode_column(r, base, nk)
        if null_inner:
            keys = [None] + keys[1:]
        nr = struct.unpack("<Q", r.read(8))[0]
        return [keys[struct.unpack(fmt, r.read(w))[0]]
                for _ in range(nr)]
    if ch_type.startswith("Tuple("):
        import re as _re

        from mysql_syncer_clickhouse_spark.functions.typemap import (
            split_type_args)
        etypes = []
        for part in split_type_args(ch_type[6:-1]):
            toks = part.split(None, 1)
            if len(toks) == 2 and _re.fullmatch(r"[A-Za-z_]\w*", toks[0]):
                etypes.append(toks[1])
            else:
                etypes.append(part)
        cols = [_decode_column(r, et, n) for et in etypes]
        return [tuple(c[i] for c in cols) for i in range(n)]
    if ch_type == "UUID":
        import uuid as _uuid
        out = []
        for _ in range(n):
            hi, lo = struct.unpack("<QQ", r.read(16))
            out.append(str(_uuid.UUID(int=(hi << 64) | lo)))
        return out
    if ch_type.startswith("Decimal("):
        prec, scale = (int(x) for x in ch_type[8:-1].split(","))
        w = 4 if prec <= 9 else 8 if prec <= 18 else \
            16 if prec <= 38 else 32
        out = []
        for _ in range(n):
            raw = int.from_bytes(r.read(w), "little", signed=True)
            out.append(Decimal(raw).scaleb(-scale))
        return out
    if ch_type in ("Int128", "Int256", "UInt128", "UInt256"):
        w = 16 if ch_type.endswith("128") else 32
        signed = not ch_type.startswith("U")
        return [int.from_bytes(r.read(w), "little", signed=signed)
                for _ in range(n)]
    if ch_type.startswith("SimpleAggregateFunction("):
        from mysql_syncer_clickhouse_spark.functions.typemap import (
            split_type_args)
        return _decode_column(
            r, split_type_args(ch_type[24:-1])[1], n)
    raise AssertionError(f"fake server can't decode {ch_type}")


def _decode_block(r) -> tuple[list[tuple[str, str]], list[tuple]]:
    assert _rd_varint(r) == 1
    r.read(1)                        # is_overflows
    assert _rd_varint(r) == 2
    r.read(4)                        # bucket_num
    assert _rd_varint(r) == 0
    n_cols, n_rows = _rd_varint(r), _rd_varint(r)
    cols, data = [], []
    for _ in range(n_cols):
        name, ch_type = _rd_str(r), _rd_str(r)
        cols.append((name, ch_type))
        data.append(_decode_column(r, ch_type, n_rows))
    return cols, [tuple(c[i] for c in data) for i in range(n_rows)]


class _SockReader:
    def __init__(self, sock):
        self.sock, self.buf = sock, b""

    def read(self, n):
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("client closed")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out


class _MemReader:
    def __init__(self, data: bytes):
        self.buf = data

    def read(self, n):
        assert len(self.buf) >= n, "truncated frame"
        out, self.buf = self.buf[:n], self.buf[n:]
        return out


def _rd_frame(r, sizes: list | None = None) -> bytes:
    """Independent compressed-frame decode: checksum layout + LZ4 via
    pyarrow directly (the checksum value itself is recomputed with
    the module's cityhash102 -- the one component with no second
    implementation available in this sandbox; consistency only)."""
    import pyarrow as pa
    chk = r.read(16)
    hdr = r.read(9)
    method = hdr[0]
    comp_size, raw_size = struct.unpack_from("<II", hdr, 1)
    payload = r.read(comp_size - 9)
    from mysql_syncer_clickhouse_spark.sinks.cityhash102 import checksum16
    assert checksum16(hdr + payload) == chk
    assert method in (0x82, 0x90)               # LZ4 / ZSTD
    codec = pa.Codec("lz4_raw" if method == 0x82 else "zstd")
    raw = bytes(codec.decompress(payload, raw_size))
    assert len(raw) == raw_size
    if sizes is not None:
        sizes.append((16 + comp_size, raw_size))
    return raw


def _wr_frame(data: bytes) -> bytes:
    """Independent frame builder for server->client blocks."""
    import pyarrow as pa
    from mysql_syncer_clickhouse_spark.sinks.cityhash102 import checksum16
    payload = bytes(pa.Codec("lz4_raw").compress(data))
    hdr = bytes([0x82]) + struct.pack("<II", 9 + len(payload), len(data))
    return checksum16(hdr + payload) + hdr + payload


def _decode_block_mc(r, compressed: bool, sizes: list | None = None):
    """Block decode, through a frame when the query negotiated
    compression."""
    if not compressed:
        return _decode_block(r)
    return _decode_block(_MemReader(_rd_frame(r, sizes)))


# -------------------------------------------------------- fake server

class _FakeNativeClickHouse:
    """Speaks just enough server-side native protocol to drive the
    sink: hello, per-query INSERT data collection, optional scripted
    exceptions. Thread-safe recording."""

    def __init__(self, *, fail_sql_containing: str | None = None,
                 send_table_columns: bool = False,
                 hello_revision: int | None = None):
        self.queries: list[str] = []
        self.inserts: list[tuple[str, list[tuple]]] = []
        self.hellos: list[tuple[str, str, str]] = []   # db, user, pass
        self.settings: list[dict[str, str]] = []       # per query
        self.compressions: list[int] = []              # query flag seen
        self.frame_sizes: list[tuple[int, int]] = []   # (wire, raw)
        self._lock = threading.Lock()
        self._fail = fail_sql_containing
        self._send_tc = send_table_columns
        self._hello_rev = hello_revision
        # (name, type) pairs to declare in the INSERT header block --
        # simulates a PRE-EXISTING table whose real column types
        # (LowCardinality, Enum, ...) differ from the client's mapping
        self.header_types: list[tuple[str, str]] = []
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self):
                r = _SockReader(self.request)
                try:
                    outer._session(self.request, r)
                except (ConnectionError, OSError):
                    pass

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._srv = Server(("127.0.0.1", 0), Handler)
        self.host, self.port = self._srv.server_address

    def _session(self, sock, r) -> None:
        # client hello
        assert _rd_varint(r) == 0
        _rd_str(r)                   # client name
        _rd_varint(r)
        _rd_varint(r)                # client version
        _rd_varint(r)                # client revision
        db, user, pwd = _rd_str(r), _rd_str(r), _rd_str(r)
        with self._lock:
            self.hellos.append((db, user, pwd))
        hello_rev = (self._hello_rev if self._hello_rev is not None
                     else N.CLIENT_REVISION)
        hello = (_wr_varint(0) + _wr_str("FakeHouse")
                 + _wr_varint(23) + _wr_varint(8)
                 + _wr_varint(hello_rev))
        rev = min(hello_rev, N.CLIENT_REVISION)
        if rev >= 54058:
            hello += _wr_str("UTC")
        if rev >= 54372:
            hello += _wr_str("fake")
        if rev >= 54401:
            hello += _wr_varint(1)
        sock.sendall(hello)
        while True:
            pkt = _rd_varint(r)
            if pkt != 1:             # only Query packets expected
                raise ConnectionError(f"unexpected client packet {pkt}")
            _rd_str(r)               # query id
            assert r.read(1)[0] == 1          # kind: initial
            _rd_str(r)
            _rd_str(r)
            _rd_str(r)               # initial user/id/addr
            assert r.read(1)[0] == 1          # interface: TCP
            _rd_str(r)
            _rd_str(r)
            _rd_str(r)               # os user/host/name
            _rd_varint(r)
            _rd_varint(r)
            _rd_varint(r)            # version + revision
            if rev >= 54060:
                _rd_str(r)           # quota key
            if rev >= 54401:
                _rd_varint(r)        # version patch
            # settings-as-strings list, empty-name-terminated
            qsettings: dict[str, str] = {}
            while True:
                sname = _rd_str(r)
                if not sname:
                    break
                r.read(1)            # flags
                qsettings[sname] = _rd_str(r)
            assert _rd_varint(r) == 2          # stage complete
            compression = _rd_varint(r)
            assert compression in (0, 1)
            sql = _rd_str(r)
            # the empty external-tables block
            assert _rd_varint(r) == 2
            _rd_str(r)
            cols, rows = _decode_block_mc(r, compression == 1)
            assert not rows
            with self._lock:
                self.queries.append(sql)
                self.settings.append(qsettings)
                self.compressions.append(compression)
            if self._fail and self._fail in sql:
                sock.sendall(_wr_varint(2) + struct.pack("<i", 60)
                             + _wr_str("DB::Exception")
                             + _wr_str(f"scripted failure for {sql[:40]}")
                             + _wr_str("") + b"\x00")
                continue
            if sql.lstrip().upper().startswith("INSERT"):
                if self._send_tc:
                    # servers >= 54410 send TableColumns metadata for
                    # INSERTs; clients must tolerate it
                    sock.sendall(_wr_varint(11) + _wr_str("")
                                 + _wr_str("columns format version: 1"))
                # header block: row-empty -- framed when negotiated,
                # so the CLIENT's decompress+verify path is exercised
                # too. With header_types set, it declares the table's
                # REAL column types the way a live server does,
                # including the zero-row serialization-state prefix
                # (LowCardinality's 8-byte version stamp)
                if self.header_types:
                    hdr_blk = bytearray(
                        b"\x01\x00\x02\xff\xff\xff\xff\x00")
                    hdr_blk += _wr_varint(len(self.header_types))
                    hdr_blk += _wr_varint(0)
                    for hn, ht in self.header_types:
                        hdr_blk += _wr_str(hn) + _wr_str(ht)
                        if ht.startswith("LowCardinality("):
                            hdr_blk += struct.pack("<Q", 1)
                    hdr_blk = bytes(hdr_blk)
                else:
                    hdr_blk = N.encode_block([], [])
                if compression:
                    hdr_blk = _wr_frame(hdr_blk)
                sock.sendall(_wr_varint(1) + _wr_str("") + hdr_blk)
                got: list[tuple] = []
                sizes: list[tuple[int, int]] = []
                while True:
                    assert _rd_varint(r) == 2
                    _rd_str(r)
                    bcols, brows = _decode_block_mc(
                        r, compression == 1, sizes)
                    if not bcols and not brows:
                        break
                    got.extend(brows)
                with self._lock:
                    self.inserts.append((sql, got))
                    self.frame_sizes.extend(sizes)
            sock.sendall(_wr_varint(5))        # EndOfStream

    def start(self):
        threading.Thread(target=self._srv.serve_forever,
                         daemon=True).start()
        return self

    def stop(self):
        self._srv.shutdown()
        self._srv.server_close()


@pytest.fixture()
def fake_native():
    srv = _FakeNativeClickHouse().start()
    yield srv
    srv.stop()


def _sink(srv, bulk_size=10000):
    return N.ClickHouseNativeSink(
        host=srv.host, port=srv.port, database="olap",
        table="items_sink", columns=COLUMNS, pk=("id",),
        bulk_size=bulk_size)


# ---------------------------------------------------------------- tests


def test_golden_varint():
    # public LEB128: 300 -> AC 02, 0 -> 00, 127 -> 7F, 128 -> 80 01
    assert N.write_varint(0) == b"\x00"
    assert N.write_varint(127) == b"\x7f"
    assert N.write_varint(128) == b"\x80\x01"
    assert N.write_varint(300) == b"\xac\x02"


def test_golden_block_encoding():
    # hand-laid-out: BlockInfo(1,0,2,-1,0), 1 col, 2 rows,
    # col "a" Int32 values 7, -1
    blk = N.encode_block([("a", "Int32")], [(7,), (-1,)])
    assert blk == (b"\x01\x00\x02\xff\xff\xff\xff\x00"
                   b"\x01\x02"
                   b"\x01a\x05Int32"
                   b"\x07\x00\x00\x00\xff\xff\xff\xff")


def test_golden_nullable_and_string():
    blk = N.encode_block([("s", "Nullable(String)")],
                         [("hi",), (None,)])
    assert blk == (b"\x01\x00\x02\xff\xff\xff\xff\x00"
                   b"\x01\x02"
                   b"\x01s\x10Nullable(String)"
                   b"\x00\x01"            # null mask
                   b"\x02hi\x00")         # "hi", ""


def test_ensure_table_and_hello(fake_native):
    sink = _sink(fake_native)
    ddl = sink.ensure_table()
    assert fake_native.hellos == [("olap", "default", "")]
    assert fake_native.queries == [ddl]
    assert "ReplacingMergeTree" in ddl


def test_insert_blocks_decode_to_written_rows(fake_native, spark):
    sink = _sink(fake_native)
    df = spark.createDataFrame(
        [(1, "insert", 1, "first", 86400),
         (2, "insert", 2, None, 86400),
         (3, "update", 1, "first-edited", None)],
        SCHEMA_DDL).coalesce(1)
    sink.apply_batch(df, epoch_id=0)
    assert len(fake_native.inserts) == 1
    sql, rows = fake_native.inserts[0]
    assert sql.startswith("INSERT INTO `olap`.`items_sink` (`seq`")
    assert sorted(rows) == [
        (1, "insert", 1, "first", 86400),
        (2, "insert", 2, None, 86400),
        (3, "update", 1, "first-edited", None)]


def test_typed_values_roundtrip_through_native_blocks(fake_native):
    """Every typemap-emitted type byte-decodes back to the value the
    client was given (Date/DateTime64/Decimal/Float/unsigned)."""
    cols = [("d", "Date"), ("ts", "DateTime64(6)"), ("t0", "DateTime"),
            ("dec", "Decimal(12,4)"), ("big", "Decimal(24,2)"),
            ("f", "Float64"), ("u", "UInt64"),
            ("ns", "Nullable(Int32)")]
    row = (datetime.date(2026, 3, 1),
           datetime.datetime(2026, 3, 1, 12, 30, 45, 123456),
           datetime.datetime(2026, 3, 1, 12, 30, 45),
           Decimal("12345678.9012"), Decimal("1234567890123.45"),
           3.141592653589793, 2**63 + 9, None)
    conn = N.NativeConnection(fake_native.host, fake_native.port,
                              database="olap")
    try:
        conn.insert_blocks("INSERT INTO `olap`.`t` (`x`) VALUES",
                           cols, [[row]])
    finally:
        conn.close()
    _, rows = fake_native.inserts[0]
    assert rows == [row]


def test_bulk_size_chunks_into_blocks_single_insert(fake_native, spark):
    sink = _sink(fake_native, bulk_size=2)
    df = spark.createDataFrame(
        [(i, "insert", i, f"t{i}", 1) for i in range(5)],
        SCHEMA_DDL).coalesce(1)
    sink.apply_batch(df, epoch_id=0)
    # one INSERT statement, all 5 rows arrived (3 blocks server-side
    # are concatenated by the fake: chunking is a framing detail)
    assert len(fake_native.inserts) == 1
    assert len(fake_native.inserts[0][1]) == 5


def test_dedup_tokens_ride_native_settings_and_are_replay_stable(
        fake_native, spark):
    """insert_deduplication_token travels as a (name, flags, value)
    settings string in the Query packet (revision 54429) and repeats
    across a replayed epoch with identical partitioning -- the
    server-side dedup contract the HTTP sink already has."""
    sink = _sink(fake_native)
    sink.dedup_tokens = True
    df = spark.createDataFrame(
        [(1, "insert", 1, "a", 1), (2, "insert", 2, "b", 2)],
        SCHEMA_DDL).coalesce(1)
    sink.apply_batch(df, epoch_id=7)
    sink.apply_batch(df, epoch_id=7)          # replay
    tokens = [s["insert_deduplication_token"]
              for s, q in zip(fake_native.settings, fake_native.queries)
              if q.startswith("INSERT")]
    assert tokens == ["olap.items_sink:7:0", "olap.items_sink:7:0"]
    # a DDL query carries no settings
    ddl_settings = [s for s, q in zip(fake_native.settings,
                                      fake_native.queries)
                    if not q.startswith("INSERT")]
    assert all(s == {} for s in ddl_settings)


def test_client_tolerates_table_columns_metadata(spark):
    """Servers >= 54410 interleave a TableColumns packet before the
    INSERT header block; the write path must skip it."""
    srv = _FakeNativeClickHouse(send_table_columns=True).start()
    try:
        sink = _sink(srv)
        df = spark.createDataFrame([(1, "insert", 1, "a", 1)],
                                   SCHEMA_DDL).coalesce(1)
        sink.apply_batch(df, epoch_id=0)
        assert len(srv.inserts) == 1 and len(srv.inserts[0][1]) == 1
    finally:
        srv.stop()


def test_server_exception_surfaces(fake_native):
    fake_native._fail = "boom_table"
    sink = _sink(fake_native)
    with pytest.raises(N.ClickHouseServerError, match=r"\[60\].*scripted"):
        sink.execute("DROP TABLE boom_table")


def test_stream_applies_ddl_then_epoch_ordered_inserts(
        spark, fake_native, tmp_path):
    """The reference contract (clickhouse/client.go:77-233): CREATE
    first, then epoch-ordered bulk applies -- over native TCP."""
    src = tmp_path / "changelog"
    src.mkdir()
    _write_part(spark, str(src), ROWS_PART1, "p1")
    sink = _sink(fake_native)
    sink.ensure_table()
    q = start_stream(spark.readStream.schema(SCHEMA_DDL)
                     .parquet(str(src)),
                     sink.apply_batch, str(tmp_path / "ck1"))
    q.awaitTermination()
    _write_part(spark, str(src), ROWS_PART2, "p2")
    q = start_stream(spark.readStream.schema(SCHEMA_DDL)
                     .parquet(str(src)),
                     sink.apply_batch, str(tmp_path / "ck1"))
    q.awaitTermination()
    assert fake_native.queries[0].startswith("CREATE TABLE")
    all_rows = [r for _, rows in fake_native.inserts for r in rows]
    assert len(all_rows) == len(ROWS_PART1) + len(ROWS_PART2)
    seqs = sorted(r[0] for r in all_rows)
    assert seqs == sorted([r[0] for r in ROWS_PART1]
                          + [r[0] for r in ROWS_PART2])


# ----------------------------------------- LZ4 compression (round 9)

def test_cityhash102_shape_and_self_golden():
    """No second CityHash-1.0.2 implementation exists in this sandbox
    (pip cityhash/clickhouse-driver absent, the Go reference delegates
    to its driver), so these are REGRESSION pins: frozen self-goldens
    across the algorithm's length regimes (empty / <4 / <=16 / <=64
    CityMurmur / >=128 long loop + tail), plus avalanche sanity.
    Validation against a live server is the first thing to run when
    one exists."""
    from mysql_syncer_clickhouse_spark.sinks.cityhash102 import (
        cityhash128, checksum16)
    golden = {
        b"": (0x3DF09DFC64C09A2B, 0x3CB540C392E51E29),
        b"a": (0xD27139A1AFE01AD0, 0xFD7E8EE2E4C86CF6),
        b"abc": (0x900FF195577748FE, 0x13A9176355B20D7E),
        b"hello world, this is a test": (0x582D3B930B996490,
                                         0x3310441479416C76),
        bytes(range(200)): (0x275774699E23B6FD, 0x5682EF01EBE7289C),
        bytes(1000): (0xB9E3A4748EF475A8, 0x85E2F02FB9812B0E),
    }
    for s, want in golden.items():
        assert cityhash128(s) == want, f"len {len(s)}"
    # every length 0..300 hashes without error and distinctly per flip
    seen = set()
    base = bytes(range(256)) * 2
    for n in range(301):
        h = cityhash128(base[:n])
        assert h not in seen
        seen.add(h)
    # avalanche: flipping one bit flips the hash
    s = bytearray(base[:150])
    h0 = cityhash128(bytes(s))
    s[77] ^= 0x10
    assert cityhash128(bytes(s)) != h0
    # serialization: low u64 LE first
    lo, hi = cityhash128(b"abc")
    assert checksum16(b"abc") == struct.pack("<QQ", lo, hi)


def test_cityhash102_compiled_matches_reference():
    """Round 10: checksum16 dispatches to a gcc-compiled ctypes build
    of the same algorithm (~15 GB/s measured vs ~13 MB/s pure). The
    compiled path must agree with the pure-Python reference on every
    branch: a dense 0..300 sweep (hits empty/<4/<8/8..16/murmur
    17..127 incl. the 16-byte stepper) plus >=128 long-loop lengths
    covering all four 32-byte tail residues and multiple 256-byte
    iterations, plus random fuzz. If no compiler is available the
    dispatch IS the reference and this degenerates to identity --
    still a valid pin."""
    import random
    from mysql_syncer_clickhouse_spark.sinks.cityhash102 import (
        checksum16, checksum16_py, _native_fn)
    rng = random.Random(0xC1102)
    for n in list(range(301)) + [512, 513, 1000, 4096, 65536, 100001]:
        s = bytes(rng.randrange(256) for _ in range(n))
        assert checksum16(s) == checksum16_py(s), f"len {n}"
    # the sandbox ships gcc, so the compiled path must actually load
    # here (a silent fallback would un-test the C file); other hosts
    # may legitimately lack a compiler
    import shutil
    if any(shutil.which(c) for c in ("cc", "gcc", "clang")):
        assert _native_fn() is not None


def test_native_bench_drain_counts_rows():
    """The bench.py feed-rate harness (sinks/native_bench.py) must
    run a REAL protocol exchange: rows counted by the drain server's
    skip-parse equal rows sent, in both compression modes, and the
    compressed wire is smaller than raw. Tiny row count -- this pins
    the harness works, BENCH_DETAIL.json carries the measured rates."""
    from mysql_syncer_clickhouse_spark.sinks.native_bench import (
        measure_sink_throughput)
    for comp in (True, False):
        r = measure_sink_throughput(n_rows=3000, bulk_size=1000,
                                    compression=comp)
        assert r["rows"] == 3000
        assert r["rows_per_sec"] > 0
        if comp:
            assert r["wire_bytes"] < r["raw_bytes"]
        else:
            assert r["wire_bytes"] >= r["raw_bytes"]


def test_string_encode_fast_path_and_fallback_byte_identical():
    """The round-13 enc_str fast path (all-str, <128 B, one-byte
    varints) must fall back WHOLESALE and byte-identically when the
    column carries a None, a bytes value, or a 128+ B string -- the
    independent decoder is the referee in every mix."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        encode_block)
    cols = [("s", "String")]
    short = ["a", "bb", "", "delta"]
    mixes = [
        short,                                     # pure fast path
        short + ["x" * 300],                       # multi-byte varint
        ["a", None, "c"],                          # None -> ""
        ["a", b"ok-bytes", "c"],                   # bytes passthrough
        ["x" * 127, "y" * 128],                    # boundary
    ]
    for vals in mixes:
        blk = _MemReader(encode_block(cols, [(v,) for v in vals]))
        _, got = _decode_block_raw(blk)
        want = ["" if v is None else
                (v if isinstance(v, str) else v.decode())
                for v in vals]
        assert [g[0] for g in got] == want, vals
    # Nullable(String): mask + fast-path inner (None slots encode "")
    blk = _MemReader(encode_block([("s", "Nullable(String)")],
                                  [("a",), (None,), ("c",)]))
    _, got = _decode_block_raw(blk)
    assert [g[0] for g in got] == ["a", None, "c"]


def test_native_bench_composite_fixture_drains():
    """The composite fixture (Map/Array/Tuple/LowCardinality -- r12
    VERDICT ask #5) must round the same real exchange: the drain's
    recursive skip-parse counts every row in both compression modes,
    and the drained bytes decode back to the sent values through the
    INDEPENDENT decoder (the skip path must not mask a mis-framed
    composite encode)."""
    from mysql_syncer_clickhouse_spark.sinks.native_bench import (
        COMPOSITE_COLUMNS, _composite_rows, measure_sink_throughput)
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        encode_block)
    for comp in (True, False):
        r = measure_sink_throughput(n_rows=2000, bulk_size=500,
                                    compression=comp,
                                    fixture="composite")
        assert r["rows"] == 2000 and r["rows_per_sec"] > 0
        assert r["fixture"] == "composite"
    # independent-decoder cross-check of the fixture's encode
    rows = _composite_rows(7)
    blk = _MemReader(encode_block(COMPOSITE_COLUMNS, rows))
    # skip BlockInfo skeleton exactly as _decode_block does
    names_types, got = _decode_block_raw(blk)
    assert [n for n, _ in names_types] == [n for n, _ in
                                           COMPOSITE_COLUMNS]
    assert got[3][:4] == (3, "insert",
                          ["delta", "alpha"], {"a": 3, "b": 3})[:4]
    assert got[3][4] == (3.0, 3.0)


def _decode_block_raw(r):
    """Decode one raw (uncompressed) block body with the independent
    column decoder -- _decode_block assumes the packet tag + table
    name prefix, which encode_block output lacks."""
    _rd_varint(r)
    r.read(1)
    _rd_varint(r)
    r.read(4)
    _rd_varint(r)
    n_cols, n_rows = _rd_varint(r), _rd_varint(r)
    cols, names_types = [], []
    for _ in range(n_cols):
        name, typ = _rd_str(r), _rd_str(r)
        names_types.append((name, typ))
        cols.append(_decode_column(r, typ, n_rows))
    return names_types, [tuple(c[i] for c in cols)
                         for i in range(n_rows)]


def test_encode_block_fast_path_equals_slow_path():
    """The vectorized one-call struct.pack column encode (round 10)
    must be byte-identical to the per-value fallback across the type
    surface, including None-bearing Nullable columns, date/datetime
    conversions, and values needing coercion (float in an Int column
    forces the py-loop; bool rides the fast path as 1)."""
    cols = [("a", "Int64"), ("b", "Nullable(Int32)"), ("c", "Float64"),
            ("d", "Date"), ("e", "DateTime"), ("f", "String"),
            ("g", "Decimal(18,4)"), ("h", "UInt8")]
    rows = [
        (1, 2, 3.5, datetime.date(2024, 1, 2),
         datetime.datetime(2024, 1, 2, 3, 4, 5), "x",
         Decimal("12.3456"), True),
        (2**40, None, -1.25, datetime.date(1970, 1, 1),
         datetime.datetime(1970, 1, 1), "", Decimal("-1"), 0),
        (-5, 7, 0.0, datetime.date(2030, 12, 31),
         datetime.datetime(2030, 12, 31, 23, 59, 59), "héllo",
         Decimal("0.0001"), 255),
    ]
    fast = N.encode_block(cols, rows)
    # reference: per-value loop via a fmt that defeats the bulk pack
    slow = bytearray()
    slow += N.write_varint(1) + b"\x00"
    slow += N.write_varint(2) + struct.pack("<i", -1)
    slow += N.write_varint(0)
    slow += N.write_varint(len(cols)) + N.write_varint(len(rows))
    for i, (name, ch_type) in enumerate(cols):
        slow += N.write_str(name) + N.write_str(ch_type)
        enc = N.column_encoder(ch_type)
        # feed one value at a time: single-element packs exercise the
        # same conversion semantics, concatenation = column bytes for
        # every fixed-width type; String/Nullable need the full column
        if ch_type in ("String",) or ch_type.startswith("Nullable("):
            slow += enc([r[i] for r in rows])
        else:
            slow += b"".join(enc([r[i]]) for r in rows)
    assert fast == bytes(slow)


def test_cityhash102_pure_fallback_env(monkeypatch):
    """With no compiled twin (a fresh module load whose build yields
    nothing) the reference path serves, and frames written by one
    implementation must verify under the other -- the mixed-process
    case (an executor without gcc reading a frame a compiled writer
    produced)."""
    import importlib
    import sys
    from mysql_syncer_clickhouse_spark.sinks import cityhash102 as live
    compiled_frame = N.compress_frame(b"cross-impl payload " * 50)
    saved = sys.modules.pop("mysql_syncer_clickhouse_spark.sinks.cityhash102")
    try:
        pure = importlib.import_module(
            "mysql_syncer_clickhouse_spark.sinks.cityhash102")
        monkeypatch.setattr(pure, "_compile_native", lambda: None)
        assert pure._native_fn() is None
        body = compiled_frame[16 + 9:]
        hdr = compiled_frame[16:16 + 9]
        assert pure.checksum16(hdr + body) == compiled_frame[:16]
    finally:
        sys.modules["mysql_syncer_clickhouse_spark.sinks.cityhash102"] = saved
        # import_module also REBOUND the parent package's attribute to
        # the fresh module; restore it too, or `from ...sinks import
        # cityhash102` serves the poisoned copy for the session's rest
        from mysql_syncer_clickhouse_spark import sinks as _sinks_pkg
        _sinks_pkg.cityhash102 = saved
        assert live.checksum16(b"abc") == live.checksum16_py(b"abc")


def test_compress_frame_roundtrip_and_corruption():
    payloads = [b"", b"x", b"spark " * 1000, bytes(100_000),
                bytes(range(256)) * 512]
    for data in payloads:
        frame = N.compress_frame(data)
        assert N.read_compressed_frame(_MemReader(frame)) == data
        # compressible data actually compresses
        if len(data) > 1000 and len(set(data)) < 200:
            assert len(frame) < len(data)
    # a flipped byte anywhere in header or payload is caught
    frame = bytearray(N.compress_frame(b"corruption target " * 100))
    for pos in (16, 20, len(frame) - 1):    # method, size, payload
        bad = bytearray(frame)
        bad[pos] ^= 0x01
        with pytest.raises((ConnectionError, NotImplementedError,
                            AssertionError, Exception)):
            got = N.read_compressed_frame(_MemReader(bytes(bad)))
            assert got != b"corruption target " * 100
    # checksum corruption specifically -> checksum mismatch
    bad = bytearray(frame)
    bad[0] ^= 0x01
    with pytest.raises(ConnectionError, match="checksum"):
        N.read_compressed_frame(_MemReader(bytes(bad)))


def test_insert_rides_lz4_frames_by_default(fake_native, spark):
    """The sink's production default: the Query packet negotiates
    compression, every block body is an LZ4 frame (independently
    decoded server-side), rows byte-decode to what was written, and
    the wire bytes are SMALLER than the raw block."""
    sink = _sink(fake_native)
    rows = [(i, "insert", i, "title-" + "pad" * 20, 86400 + i)
            for i in range(500)]
    df = spark.createDataFrame(rows, SCHEMA_DDL).coalesce(1)
    sink.apply_batch(df, epoch_id=0)
    assert fake_native.compressions[-1] == 1
    _, got = fake_native.inserts[0]
    assert sorted(got) == sorted(rows)
    assert fake_native.frame_sizes, "no frames recorded"
    wire, raw = fake_native.frame_sizes[0]
    assert wire < raw                       # repetitive text compresses


def test_compression_negotiated_off_against_old_server(spark):
    """A pre-54058 server cannot be asked for compression: the client
    turns it off and the Query carries flag 0."""
    srv = _FakeNativeClickHouse(hello_revision=54056).start()
    try:
        sink = _sink(srv)
        df = spark.createDataFrame(
            [(1, "insert", 1, "first", 86400)], SCHEMA_DDL).coalesce(1)
        sink.apply_batch(df, epoch_id=0)
        assert srv.compressions[-1] == 0
        assert srv.inserts[0][1] == [(1, "insert", 1, "first", 86400)]
    finally:
        srv.stop()


def test_compression_off_still_supported(fake_native, spark):
    sink = _sink(fake_native)
    sink.compression = False
    df = spark.createDataFrame(
        [(7, "insert", 7, "plain", None)], SCHEMA_DDL).coalesce(1)
    sink.apply_batch(df, epoch_id=0)
    assert fake_native.compressions[-1] == 0
    assert fake_native.inserts[0][1] == [(7, "insert", 7, "plain", None)]


def test_zstd_frames_roundtrip_and_sink(fake_native, spark):
    """ZSTD (method 0x90) as the alternate production codec: frame
    round trip plus a full sink insert whose frames the independent
    server-side decoder verifies."""
    data = b"zstd payload " * 5000
    frame = N.compress_frame(data, N.COMPRESSION_ZSTD)
    assert frame[16] == 0x90
    assert N.read_compressed_frame(_MemReader(frame)) == data
    sink = _sink(fake_native)
    sink.compression = "zstd"
    df = spark.createDataFrame(
        [(1, "insert", 1, "ztitle" * 10, 86400)], SCHEMA_DDL).coalesce(1)
    sink.apply_batch(df, epoch_id=0)
    assert fake_native.compressions[-1] == 1
    assert fake_native.inserts[-1][1] == [(1, "insert", 1,
                                           "ztitle" * 10, 86400)]
    with pytest.raises(ValueError, match="unknown compression"):
        N.NativeConnection(fake_native.host, fake_native.port,
                           database="olap", compression="snappy")


def test_cityhash102_cache_is_private_and_regime_visible(
        monkeypatch, tmp_path, caplog):
    """ADVICE r10 medium + VERDICT r10 ask #3, three pins on a fresh
    module load: (a) the .so cache lives in a user-private (0700)
    directory, never a predictable world-writable path; (b) a cached
    .so that is NOT owned-and-private is refused even though its
    hashes would validate (a planted library can return correct
    hashes); (c) falling back to pure Python WARNS -- the ~1000x
    regime change must be visible."""
    import importlib
    import logging
    import shutil
    import sys

    if not any(shutil.which(c) for c in ("cc", "gcc", "clang")):
        import pytest
        pytest.skip("no C compiler on this host")

    mod = "mysql_syncer_clickhouse_spark.sinks.cityhash102"
    saved = sys.modules.pop(mod)
    try:
        # (a) private cache: fresh XDG_CACHE_HOME, compile lands there
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
        m = importlib.import_module(mod)
        assert m._native_fn() is not None
        cache = tmp_path / "xdg" / "msc_spark"
        sos = list(cache.glob("*.so"))
        assert len(sos) == 1
        assert (cache.stat().st_mode & 0o077) == 0       # 0700 dir
        assert (sos[0].stat().st_mode & 0o022) == 0      # no g/o write

        # (b) a group/other-writable cached .so is refused and
        # rebuilt/validated fresh rather than CDLL'd
        sos[0].chmod(0o766)
        sys.modules.pop(mod)
        m = importlib.import_module(mod)
        assert m._owned_and_private(str(sos[0])) is False
        assert m._native_fn() is not None        # rebuilt, not loaded
        assert (sos[0].stat().st_mode & 0o022) == 0      # re-tightened

        # (c) fallback warns
        sys.modules.pop(mod)
        monkeypatch.setenv("PATH", str(tmp_path / "nobin"))  # no cc
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg2"))
        m = importlib.import_module(mod)
        with caplog.at_level(logging.WARNING, logger=mod):
            assert m._native_fn() is None
        assert any("pure Python" in r.message for r in caplog.records)
    finally:
        sys.modules[mod] = saved
        # restore the parent-package attribute the fresh imports
        # rebound (same leak as test_cityhash102_pure_fallback_env:
        # a PATH=nobin-latched copy otherwise serves every later
        # `from ...sinks import cityhash102` in the session)
        from mysql_syncer_clickhouse_spark import sinks as _sinks_pkg
        _sinks_pkg.cityhash102 = saved


def test_stat_payload_carries_checksum_regime():
    """/stat serves `checksum_compiled` next to the sink counters so
    operators can see which throughput regime the deployment is in."""
    import json
    import urllib.request

    from mysql_syncer_clickhouse_spark.streaming.status import (
        StatusServer)

    class M:
        def snapshot(self):
            return {"insert": 1}

    srv = StatusServer(M(), port=0).start()
    try:
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stat", timeout=5) as r:
            payload = json.loads(r.read())
        assert payload["checksum_compiled"] in (True, False)
        assert payload["counts"] == {"insert": 1}
    finally:
        srv.stop()


def test_encode_block_conv_semantics_guarded():
    """ADVICE r10 low: the bulk struct.pack fast path is gated to
    identity-conv encoders. A plain int into a Decimal column must
    SCALE by 10^S (not pack raw), ints into Date/DateTime must raise
    (they are not epoch-day/second values), and a ragged row must
    raise instead of zip-truncating every column."""
    import pytest

    # Decimal(18,4): int 5 scales to 50000 on the wire
    enc = N.column_encoder("Decimal(18,4)")
    assert enc([5]) == struct.pack("<q", 50000)
    assert enc([Decimal("5")]) == struct.pack("<q", 50000)
    # Date/DateTime refuse plain ints loudly
    with pytest.raises(Exception):
        N.column_encoder("Date")([20240101])
    with pytest.raises(Exception):
        N.column_encoder("DateTime")([1700000000])
    # int/float columns keep the raw fast path
    assert N.column_encoder("Int64")([1, 2]) == struct.pack("<2q", 1, 2)
    # ragged rows raise, never truncate
    with pytest.raises(ValueError):
        N.encode_block([("a", "Int64"), ("b", "Int64")],
                       [(1, 2), (3,)])


def test_native_connection_tls_end_to_end(tmp_path):
    """The secure native port (9440 analog): TLS from byte zero --
    the socket wraps BEFORE the hello (no STARTTLS; ClickHouse's
    secure port differs from MySQL's mid-handshake upgrade). The
    client VERIFIES the server cert (self-signed CA pinned), then a
    compressed INSERT runs through the tunnel and the recording fake
    decodes the same typed rows."""
    import ssl

    from tests.test_mysql_repl import _self_signed_cert

    certfile, keyfile = _self_signed_cert(tmp_path)
    sctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    sctx.load_cert_chain(certfile, keyfile)

    srv = _FakeNativeClickHouse()
    # wrap the fake's listener: every accepted connection is TLS
    srv._srv.socket = sctx.wrap_socket(srv._srv.socket,
                                       server_side=True)
    srv.start()
    try:
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
        ctx.check_hostname = False          # IP SAN covers identity
        ctx.verify_mode = ssl.CERT_REQUIRED
        ctx.load_verify_locations(certfile)
        conn = N.NativeConnection(srv.host, srv.port,
                                  compression=True, ssl_context=ctx)
        try:
            sent = conn.insert_blocks(
                "INSERT INTO db.t VALUES",
                [("id", "Int64"), ("s", "String")],
                [[(1, "tls"), (2, "wire")]])
            assert sent == 2
        finally:
            conn.close()
        assert srv.inserts[0][1] == [(1, "tls"), (2, "wire")]
        # an unpinned client refuses the self-signed server outright
        bad = ssl.create_default_context()
        bad.check_hostname = False
        import pytest
        with pytest.raises(ssl.SSLError):
            N.NativeConnection(srv.host, srv.port, ssl_context=bad)
    finally:
        srv.stop()


def test_array_string_column_end_to_end(fake_native):
    """Array(String) -- what the rules' ',list' transform produces --
    through the native wire: cumulative-offset layout decoded by the
    independent test decoder; None lands as the empty array
    (ClickHouse forbids Nullable(Array))."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection)
    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("id", "Int64"), ("tags", "Array(String)")],
            [[(1, ["a", "b"]), (2, []), (3, None), (4, ["x,y", ""])]])
        assert sent == 4
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [
        (1, ["a", "b"]), (2, []), (3, []), (4, ["x,y", ""])]


def test_list_rule_to_native_sink_e2e(spark, tmp_path, fake_native):
    """The full composition that used to CRASH: a rule with a ',list'
    field transform (array<string> column) applied to a ClickHouse
    native sink. The type authority maps the array to Array(String)
    (never Nullable-wrapped), the DDL carries it, and the encoder
    ships real arrays."""
    from mysql_syncer_clickhouse_spark.functions.typemap import (
        columns_from_spark_schema, mysql_to_clickhouse_type)
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        ClickHouseNativeSink)

    cl = spark.createDataFrame(
        [(1, "insert", 1, "a,b,c"), (2, "insert", 2, None)],
        "seq long, op string, id long, tags_csv string")
    from mysql_syncer_clickhouse_spark.functions.transforms import (
        csv_to_list)
    projected = cl.select("seq", "op", "id",
                          csv_to_list("tags_csv").alias("tags"))
    cols = columns_from_spark_schema(projected.schema)
    assert ("tags", "list", True) in cols
    assert mysql_to_clickhouse_type("list", True) == "Array(String)"
    sink = ClickHouseNativeSink(
        host=fake_native.host, port=fake_native.port,
        database="olap", table="t_list", columns=cols, pk=("id",),
        compression=True)
    sink.ensure_table()
    assert any("Array(String)" in q for q in fake_native.queries)
    sink.apply_batch(projected, epoch_id=0)
    got = {r[2]: r[3] for _, rows in fake_native.inserts
           for r in rows}
    assert got == {1: ["a", "b", "c"], 2: []}


def test_typed_array_columns_end_to_end(spark, fake_native):
    """VERDICT r11 ask #1 e2e: typed arrays (int64, float64, date,
    nested) flow Spark schema -> type authority -> auto-DDL -> native
    wire, decoded back by the fake server's INDEPENDENT decoder.
    Before the 'list(inner)' mapping these fell to the String
    catch-all and corrupted the wire bytes."""
    import datetime

    from mysql_syncer_clickhouse_spark.functions.typemap import (
        columns_from_spark_schema)
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        ClickHouseNativeSink)

    # CH Date is UInt16 days since 1970 -- stay in range (the scalar
    # Date encoder has the same domain; pre-epoch needs Date32)
    d1, d2 = datetime.date(2024, 1, 2), datetime.date(1970, 1, 1)
    df = spark.createDataFrame(
        [(1, "insert", 10, [1, 2, 3], [0.5, -2.25], [d1, d2], [[7], []]),
         (2, "insert", 20, [], None, None, None)],
        "seq long, op string, id long, xs array<long>, "
        "fs array<double>, ds array<date>, nest array<array<long>>")
    cols = columns_from_spark_schema(df.schema)
    assert ("xs", "list(bigint)", True) in cols
    sink = ClickHouseNativeSink(
        host=fake_native.host, port=fake_native.port,
        database="olap", table="t_arr", columns=cols, pk=("id",),
        compression=True)
    sink.ensure_table()
    ddl = next(q for q in fake_native.queries if "CREATE TABLE" in q)
    for ch in ("Array(Int64)", "Array(Float64)", "Array(Date)",
               "Array(Array(Int64))"):
        assert ch in ddl and f"Nullable({ch}" not in ddl
    sink.apply_batch(df, epoch_id=0)
    got = {r[2]: r[3:] for _, rows in fake_native.inserts for r in rows}
    assert got[10][0] == [1, 2, 3]
    assert got[10][1] == [0.5, -2.25]
    assert got[10][2] == [d1, d2]
    assert got[10][3] == [[7], []]
    # NULL / missing arrays land as [] (CH forbids Nullable(Array))
    assert got[20] == ([], [], [], [])


def test_map_column_wire_round_trip(fake_native):
    """Map(K, V) native layout (round 12): cumulative entry offsets +
    flat keys + flat values, decoded by the fake server's INDEPENDENT
    decoder. None lands as the empty map (CH forbids Nullable(Map));
    Nullable VALUES inside a map carry the null-mask layout."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection)
    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("id", "Int64"), ("m", "Map(String, Int64)"),
             ("nv", "Map(String, Nullable(Float64))"),
             ("ik", "Map(Int64, String)"),
             ("am", "Map(String, Array(Int64))")],
            [[(1, {"a": 1, "b": -2}, {"x": 0.5, "y": None},
               {7: "seven"}, {"xs": [1, 2], "ys": []}),
              (2, {}, None, {}, {})]])
        assert sent == 2
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [
        (1, {"a": 1, "b": -2}, {"x": 0.5, "y": None},
         {7: "seven"}, {"xs": [1, 2], "ys": []}),
        (2, {}, {}, {}, {})]


def test_map_column_sink_e2e(spark, fake_native):
    """The sumMap-output composition that used to CRASH: a Spark
    map<string,bigint> column (what operators/maps.py emits) through
    the type authority -> auto-DDL -> native wire. Before the map
    pseudo-type it fell to the String catch-all and bytes(dict) died
    on the first batch."""
    from mysql_syncer_clickhouse_spark.functions.typemap import (
        columns_from_spark_schema)
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        ClickHouseNativeSink)

    df = spark.createDataFrame(
        [(1, "insert", 10, {"clicks": 3, "views": 9}),
         (2, "insert", 20, None)],
        "seq long, op string, id long, counters map<string,long>")
    cols = columns_from_spark_schema(df.schema)
    assert ("counters", "map(text,nullable(bigint))", True) in cols
    sink = ClickHouseNativeSink(
        host=fake_native.host, port=fake_native.port,
        database="olap", table="t_map", columns=cols, pk=("id",),
        compression=True)
    sink.ensure_table()
    ddl = next(q for q in fake_native.queries if "CREATE TABLE" in q)
    assert "Map(String, Nullable(Int64))" in ddl
    assert "Nullable(Map" not in ddl
    sink.apply_batch(df, epoch_id=0)
    got = {r[2]: r[3] for _, rows in fake_native.inserts for r in rows}
    assert got == {10: {"clicks": 3, "views": 9}, 20: {}}


def test_tuple_and_uuid_wire_round_trip(fake_native):
    """Tuple(name Type, ...) and UUID native layouts (round 12):
    tuples ship each element's full column back to back (fixed arity,
    no offsets); UUID ships UInt128 halves high-64-first. Decoded by
    the fake server's INDEPENDENT decoder. None -> default-element
    tuple / nil UUID; Nullable tuple ELEMENTS keep real NULLs via
    their own mask."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection)
    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("id", "Int64"),
             ("tup", "Tuple(k String, n Nullable(Int64))"),
             ("u", "UUID")],
            [[(1, ("a", 7), "12345678-1234-5678-1234-567812345678"),
              (2, ("b", None), None),
              (3, None, "00000000-0000-0000-0000-000000000001")]])
        assert sent == 3
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [
        (1, ("a", 7), "12345678-1234-5678-1234-567812345678"),
        (2, ("b", None), "00000000-0000-0000-0000-000000000000"),
        (3, ("", None), "00000000-0000-0000-0000-000000000001")]


def test_struct_column_sink_e2e(spark, fake_native):
    """A Spark struct column (e.g. from_json typed output) through the
    type authority -> named ClickHouse Tuple -> native wire. Before
    the tuple pseudo-type it fell to the String catch-all and
    bytes(Row) died on the first batch (same class as list/map)."""
    from mysql_syncer_clickhouse_spark.functions.typemap import (
        columns_from_spark_schema)
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        ClickHouseNativeSink)

    df = spark.createDataFrame(
        [(1, "insert", 10, ("alice", 3)),
         (2, "insert", 20, None)],
        "seq long, op string, id long, "
        "who struct<name:string, n:long>")
    cols = columns_from_spark_schema(df.schema)
    # Spark DDL-parsed struct fields are nullable by default
    assert ("who", "tuple(name nullable(text),n nullable(bigint))",
            True) in cols
    sink = ClickHouseNativeSink(
        host=fake_native.host, port=fake_native.port,
        database="olap", table="t_tup", columns=cols, pk=("id",),
        compression=True)
    sink.ensure_table()
    ddl = next(q for q in fake_native.queries if "CREATE TABLE" in q)
    assert "Tuple(name Nullable(String), n Nullable(Int64))" in ddl
    assert "Nullable(Tuple" not in ddl
    sink.apply_batch(df, epoch_id=0)
    got = {r[2]: r[3] for _, rows in fake_native.inserts for r in rows}
    assert got == {10: ("alice", 3), 20: (None, None)}


def test_lowcardinality_and_enum_wire_round_trip(fake_native):
    """LowCardinality (dictionary + indices, additional-keys layout)
    and Enum8/Enum16 (named Int8/Int16) native encodes, decoded by
    the fake server's INDEPENDENT decoder. Nullable-inner
    LowCardinality reserves dictionary slot 0 for NULL."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection)
    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("id", "Int64"),
             ("tag", "LowCardinality(String)"),
             ("opt", "LowCardinality(Nullable(String))"),
             ("sev", "Enum8('low' = 1, 'high' = 2)"),
             ("code", "Enum16('a' = -300, 'b' = 5)")],
            [[(1, "x", "p", "low", "a"),
              (2, "x", None, "high", 5),
              (3, "y", "p", 2, "b")]])
        assert sent == 3
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [
        (1, "x", "p", "low", "a"),
        (2, "x", None, "high", "b"),
        (3, "y", "p", "high", "b")]


def test_enum_unknown_member_refuses():
    """An enum value outside the declared members must RAISE -- a
    silent default would corrupt data."""
    import pytest

    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        column_encoder)
    enc = column_encoder("Enum8('low' = 1, 'high' = 2)")
    with pytest.raises(ValueError, match="not a member"):
        enc(["nope"])
    with pytest.raises(ValueError, match="not a member"):
        enc([3])


def test_fixedstring_bool_ip_wire_round_trip(fake_native):
    """FixedString(N) (zero-padded, overlong REFUSES), Bool (UInt8),
    IPv4 (UInt32) and IPv6 (network-order 16 bytes) -- the remaining
    common scalar types a pre-existing table's header can declare --
    decoded by the fake server's INDEPENDENT decoder."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection, column_encoder)
    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("id", "Int64"), ("code", "FixedString(4)"),
             ("ok", "Bool"), ("a4", "IPv4"), ("a6", "IPv6")],
            [[(1, "ab", True, "1.2.3.4", "2001:db8::1"),
              (2, "wxyz", False, "255.255.255.255", "::1"),
              (3, None, None, None, None)]])
        assert sent == 3
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [
        (1, "ab", True, "1.2.3.4", "2001:db8::1"),
        (2, "wxyz", False, "255.255.255.255", "::1"),
        (3, "", False, "0.0.0.0", "::")]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="too long"):
        column_encoder("FixedString(4)")(["abcde"])
    from mysql_syncer_clickhouse_spark.functions.typemap import (
        mysql_to_clickhouse_type)
    assert mysql_to_clickhouse_type("inet6", True) == "Nullable(IPv6)"
    assert mysql_to_clickhouse_type("inet4") == "IPv4"


@pytest.mark.parametrize("compression", [True, False])
def test_insert_adopts_server_header_types(fake_native, compression):
    """A PRE-EXISTING table with LowCardinality/Enum columns: the
    server's INSERT header declares the real types and the client
    must encode with THEM, not its own mapping (the protocol rejects
    mismatched blocks). Runs uncompressed too -- the zero-row
    LowCardinality state prefix in the header must be consumed or
    the raw socket stream desyncs."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection)
    fake_native.header_types = [
        ("id", "Int64"),
        ("tag", "LowCardinality(String)"),
        ("sev", "Enum8('low' = 1, 'high' = 2)")]
    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=compression)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t (id, tag, sev) VALUES",
            [("id", "Int64"), ("tag", "String"), ("sev", "String")],
            [[(1, "a", "low"), (2, "a", "high")]])
        assert sent == 2
        # the connection is NOT desynced: a second INSERT still works
        sent = conn.insert_blocks(
            "INSERT INTO db.t (id, tag, sev) VALUES",
            [("id", "Int64"), ("tag", "String"), ("sev", "String")],
            [[(3, "b", "low")]])
        assert sent == 1
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [(1, "a", "low"),
                                         (2, "a", "high")]
    assert fake_native.inserts[1][1] == [(3, "b", "low")]
    # the wire blocks really carried the server's types: the insert
    # decode used the client-sent type strings, which round-trip enum
    # NAMES (an Int8 of a plain String column could not)
    fake_native.header_types = []


def test_stat_sink_feed_rate_advances_across_epochs(spark, fake_native):
    """VERDICT r11 ask #8's done-criterion: /stat carries the native
    sink's live feed rate (rows written, summed per-connection wall,
    rows/s/conn) and the counters ADVANCE across epochs."""
    import json
    import urllib.request

    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        ClickHouseNativeSink)
    from mysql_syncer_clickhouse_spark.streaming.pipeline import (
        SyncMetrics)
    from mysql_syncer_clickhouse_spark.streaming.status import (
        StatusServer)

    sink = ClickHouseNativeSink(
        host=fake_native.host, port=fake_native.port,
        database="olap", table="t_rate",
        columns=[("id", "bigint", False), ("v", "bigint", True)],
        pk=("id",), compression=True)
    sink.ensure_table()
    metrics = SyncMetrics()
    srv = StatusServer(metrics, port=0).start()

    def stat():
        with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/stat", timeout=5) as r:
            return json.loads(r.read())

    try:
        assert "sink" not in stat()          # nothing written yet
        df1 = spark.createDataFrame([(1, 10), (2, 20)],
                                    "id long, v long")
        sink.apply_batch(df1, epoch_id=0)
        metrics.record_sink_stats(sink.write_stats)
        s1 = stat()["sink"]
        assert s1["rows_written"] == 2 and s1["epochs"] == 1
        assert s1["conn_wall_us"] > 0
        assert s1["rows_per_sec_per_conn"] > 0

        df2 = spark.createDataFrame([(3, 30), (4, 40), (5, 50)],
                                    "id long, v long")
        sink.apply_batch(df2, epoch_id=1)
        metrics.record_sink_stats(sink.write_stats)
        s2 = stat()["sink"]
        assert s2["rows_written"] == 5 and s2["epochs"] == 2
        assert s2["conn_wall_us"] > s1["conn_wall_us"]
    finally:
        srv.stop()


def test_sink_tls_reaches_executor_write_path(spark, tmp_path):
    """The distributed write path (apply_batch -> foreachPartition ->
    per-partition connections on EXECUTORS) must speak TLS when the
    sink is TLS-configured. An SSLContext object cannot travel into a
    Spark task, so the sink carries picklable secure/ca_file config
    and each partition rebuilds its context; a sink configured ONLY
    via ssl_context refuses apply_batch loudly instead of silently
    writing plaintext."""
    import ssl

    from tests.test_mysql_repl import _self_signed_cert

    certfile, keyfile = _self_signed_cert(tmp_path)
    sctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    sctx.load_cert_chain(certfile, keyfile)
    srv = _FakeNativeClickHouse()
    srv._srv.socket = sctx.wrap_socket(srv._srv.socket,
                                       server_side=True)
    srv.start()
    try:
        from mysql_syncer_clickhouse_spark.sinks.clickhouse_native \
            import ClickHouseNativeSink
        sink = ClickHouseNativeSink(
            host=srv.host, port=srv.port,
            database="olap", table="t_tls",
            columns=[("id", "bigint", False), ("s", "text", True)],
            pk=("id",), compression=True, ca_file=certfile)
        sink.ensure_table()                  # driver-side control conn
        df = spark.createDataFrame([(1, "tls"), (2, "wire")],
                                   "id long, s string").coalesce(1)
        sink.apply_batch(df, epoch_id=0)     # executor-side data conn
        assert srv.inserts[0][1] == [(1, "tls"), (2, "wire")]
        assert sink.write_stats["rows_written"] == 2

        ctx_only = ClickHouseNativeSink(
            host=srv.host, port=srv.port, database="olap",
            table="t_tls", columns=[("id", "bigint", False)],
            pk=("id",), ssl_context=ssl.create_default_context())
        with pytest.raises(ValueError, match="picklable"):
            ctx_only.apply_batch(df.select("id"), epoch_id=0)
    finally:
        srv.stop()


def test_date32_wide_range_and_date_range_refusal(fake_native):
    """Pre-epoch MySQL dates: ClickHouse Date (UInt16, 1970..2149)
    cannot hold them -- the encoder now refuses LOUDLY with the
    remedy instead of dying in a cryptic struct.error (or worse,
    wrapping). The 'date32' pseudo-type maps to Date32 (Int32 days,
    1900..2299) and round-trips negative day counts."""
    import datetime

    from mysql_syncer_clickhouse_spark.functions.typemap import (
        mysql_to_clickhouse_type, mysql_to_spark_type)
    from pyspark.sql import types as T

    assert mysql_to_clickhouse_type("date32", True) == \
        "Nullable(Date32)"
    assert mysql_to_spark_type("date32") == T.DateType()

    old = datetime.date(1932, 6, 15)
    new = datetime.date(2101, 1, 2)
    conn = N.NativeConnection(fake_native.host, fake_native.port,
                              compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("id", "Int64"), ("d", "Date32")],
            [[(1, old), (2, new), (3, None)]])
        assert sent == 3
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [
        (1, old), (2, new), (3, datetime.date(1970, 1, 1))]

    with pytest.raises(ValueError, match="Date32"):
        N.column_encoder("Date")([old])
    with pytest.raises(ValueError, match="Date32"):
        N.column_encoder("Date")([datetime.date(2200, 1, 1)])


def test_lowcardinality_nested_in_composite_refuses():
    """LowCardinality inside Array/Map/Tuple serializes its version
    stamp in the column STATE PREFIX, which the flat recursive
    encoders cannot place -- they must refuse loudly (header adoption
    would otherwise ship wrong bytes to a real server)."""
    import pytest as _pytest

    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        column_encoder)
    for t in ("Array(LowCardinality(String))",
              "Map(String, LowCardinality(String))",
              "Tuple(a LowCardinality(String), b Int64)"):
        with _pytest.raises(ValueError, match="LowCardinality nested"):
            column_encoder(t)


def test_wide_int_and_decimal256_round_trip(fake_native):
    """Int128/256, UInt128/256 and Decimal(P>38) (Decimal256, 32-byte
    lanes) -- header-adoption-only types a pre-existing table can
    declare. Before the widths were explicit, a Decimal(40,s) column
    would have shipped 16-byte lanes and desynced the stream mid-
    block. Decoded by the fake server's independent decoder."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection, column_encoder)

    big = (1 << 100) + 7
    neg = -(1 << 200) - 3
    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("a", "Int128"), ("b", "UInt128"),
             ("c", "Int256"), ("d", "Nullable(UInt256)"),
             ("e", "Decimal(40,2)")],
            [[(big, big, neg, 1 << 250, Decimal("123.45")),
              (-big, 0, 0, None, Decimal("-0.01"))]])
        assert sent == 2
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [
        (big, big, neg, 1 << 250, Decimal("123.45")),
        (-big, 0, 0, None, Decimal("-0.01"))]

    # out-of-range refuses loudly (OverflowError from to_bytes)
    with pytest.raises(OverflowError):
        column_encoder("Int128")([1 << 127])
    with pytest.raises(OverflowError):
        column_encoder("UInt128")([-1])
    # beyond-Decimal256 precision refuses at encoder-build time
    with pytest.raises(ValueError):
        column_encoder("Decimal(77,2)")


def test_simple_aggregate_function_adopts_inner_wire(fake_native):
    """SimpleAggregateFunction(f, T) columns (AggregatingMergeTree
    targets a header can declare) ship the INNER type's wire format --
    the 'Simple' contract is state == value. Full AggregateFunction
    -State columns refuse with the materialized-view remedy."""
    from mysql_syncer_clickhouse_spark.sinks.clickhouse_native import (
        NativeConnection, column_encoder)

    conn = NativeConnection(fake_native.host, fake_native.port,
                            compression=True)
    try:
        sent = conn.insert_blocks(
            "INSERT INTO db.t VALUES",
            [("k", "Int64"),
             ("s", "SimpleAggregateFunction(sum, UInt64)"),
             ("m", "SimpleAggregateFunction(max, Nullable(String))")],
            [[(1, 10, "a"), (2, 0, None)]])
        assert sent == 2
    finally:
        conn.close()
    assert fake_native.inserts[0][1] == [(1, 10, "a"), (2, 0, None)]

    with pytest.raises(ValueError, match="materialized view"):
        column_encoder("AggregateFunction(uniq, UInt64)")
    with pytest.raises(ValueError, match="func, type"):
        column_encoder("SimpleAggregateFunction(sum)")
