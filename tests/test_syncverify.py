"""Sync-consistency checker (operators/syncverify.py) + the CityHash64
addition to sinks/cityhash102.py + the HTTP read-back reader.

The pushdown tests follow the repo's selftest-twin pattern: a mini
"ClickHouse" evaluates the emitted digest SQL's SEMANTICS over plain
Python rows with the independent pure-Python CityHash64, so the Spark
side and the emitted-SQL side are checked against each other without a
live server (algorithm-level interop is `pytest -m interop`)."""

from __future__ import annotations

import json
import os
import threading
from datetime import date, datetime
from decimal import Decimal
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from mysql_syncer_clickhouse_spark.operators import syncverify as sv
from mysql_syncer_clickhouse_spark.sinks.cityhash102 import (
    K2,
    _native_fn,
    cityhash64,
    cityhash64_batch,
)

# ------------------------------------------------------- CityHash64


def test_cityhash64_empty_is_k2():
    # HashLen0to16 of the empty string returns k2 directly -- the one
    # branch pinned by the spec without running the mixer
    assert cityhash64(b"") == K2


def test_cityhash64_batch_equals_pure_on_every_branch():
    vals = [b"", b"a", b"ab", b"abc", b"0123", b"01234567",
            b"0123456789abcdef", b"x" * 17, b"x" * 32, b"x" * 33,
            b"x" * 64, b"y" * 65, b"y" * 127, b"y" * 128,
            b"z" * 200, bytes(range(256)), b"w" * 1000]
    assert cityhash64_batch(vals) == [cityhash64(v) for v in vals]


def test_cityhash64_compiled_twin_loaded_and_validated():
    _native_fn()
    from mysql_syncer_clickhouse_spark.sinks import cityhash102
    # this sandbox has a C compiler; the load-time validation battery
    # must have accepted the compiled 64-bit batch
    assert cityhash102._NATIVE64 is not None


def test_cityhash64_is_64bit_unsigned():
    for v in (b"q", b"q" * 40, b"q" * 400):
        h = cityhash64(v)
        assert 0 <= h < (1 << 64)


# ------------------------------------------------------- Spark mode


@pytest.fixture(scope="module")
def frames(spark):
    src = spark.createDataFrame(
        [(i, f"name{i}", i * 10) for i in range(1000)],
        "id long, name string, qty long")
    rows = [(i, f"name{i}", i * 10) for i in range(1000) if i != 7]
    rows = [(i, n, q if i != 13 else 999) for (i, n, q) in rows]
    rows.append((2000, "ghost", 1))
    rows.append((500, "name500", 5000))
    dst = spark.createDataFrame(rows, "id long, name string, qty long")
    return src, dst


def test_sync_verify_identical_in_sync(spark, frames):
    src, _ = frames
    report, diff = sv.sync_verify(src, src, ["id"], n_buckets=64)
    assert report["in_sync"] is True
    assert report["buckets_mismatched"] == 0
    assert diff is None


def test_sync_verify_classifies_every_divergence(spark, frames):
    src, dst = frames
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=64)
    assert report["rows_src"] == 1000
    assert report["rows_dst"] == 1001
    assert not report["in_sync"]
    got = {(r["id"], r["status"]): list(r["differing_columns"])
           for r in diff.collect()}
    assert got[(7, "missing_in_sink")] == []
    assert got[(13, "value_mismatch")] == ["qty"]
    assert got[(2000, "extra_in_sink")] == []
    # pk-grain default: ONE duplicate finding carrying both sides'
    # multiplicities (src has the row once, sink twice)
    assert (500, "duplicate_pk") in got
    counts = {(r["id"], r["status"]): (r["src_count"], r["dst_count"])
              for r in diff.collect()}
    assert counts[(500, "duplicate_pk")] == (1, 2)
    ids = {i for (i, _s) in got}
    assert ids == {7, 13, 2000, 500}


def test_even_multiplicity_duplicate_caught_by_count(spark):
    # x ^ x cancels in bitXor: a row inserted TWICE more leaves the
    # xor digest unchanged -- cnt (and sum) must catch it
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string")
    dst = src.unionAll(spark.createDataFrame(
        [(42, "v42"), (42, "v42")], "id long, v string"))
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=8)
    assert not report["in_sync"]
    rows = diff.collect()
    assert {r["status"] for r in rows} == {"duplicate_pk"}
    assert [(r["src_count"], r["dst_count"]) for r in rows] == [(1, 3)]


def test_schema_drift_reported_and_common_subset_verified(spark):
    src = spark.createDataFrame(
        [(1, "a", 10)], "id long, name string, qty long")
    dst = spark.createDataFrame([(1, "a")], "id long, name string")
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=4)
    assert report["schema_missing_in_sink"] == ["qty"]
    assert not report["in_sync"]        # schema gap = not in sync
    assert report["buckets_mismatched"] == 0   # but the data agrees
    assert diff is None


def test_type_widening_aligned_before_hashing(spark):
    src = spark.createDataFrame([(1, 10), (2, 20)], "id long, qty long")
    dst = spark.createDataFrame(
        [(1, 10), (2, 20)], "id int, qty int")
    report, _ = sv.sync_verify(src, dst, ["id"], n_buckets=4)
    assert report["in_sync"] is True


def test_composite_pk_and_null_semantics(spark):
    src = spark.createDataFrame(
        [(1, "a", None), (1, "b", "x"), (2, "a", "N")],
        "k1 long, k2 string, v string")
    dst = spark.createDataFrame(
        [(1, "a", "N"), (1, "b", "x"), (2, "a", "N")],
        "k1 long, k2 string, v string")
    report, diff = sv.sync_verify(src, dst, ["k1", "k2"], n_buckets=4)
    assert not report["in_sync"]         # NULL != the string 'N'
    rows = diff.collect()
    assert [(r["k1"], r["k2"], r["status"], list(r["differing_columns"]))
            for r in rows] == [(1, "a", "value_mismatch", ["v"])]


def test_random_perturbations_found_exactly(spark):
    import random
    rng = random.Random(1307)
    n = 500
    src_rows = [(i, f"p{i}", i % 17, i * 3) for i in range(n)]
    missing = set(rng.sample(range(n), 5))
    changed = set(rng.sample(sorted(set(range(n)) - missing), 7))
    extra = {n + 1 + j for j in range(3)}
    dst_rows = [
        (i, f"p{i}", (i % 17) + (100 if i in changed else 0), i * 3)
        for i in range(n) if i not in missing]
    dst_rows += [(e, f"x{e}", 0, 0) for e in extra]
    schema = "id long, s string, a long, b long"
    src = spark.createDataFrame(src_rows, schema)
    dst = spark.createDataFrame(dst_rows, schema)
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=32)
    got = {(r["id"], r["status"]) for r in diff.collect()}
    expected = ({(i, "missing_in_sink") for i in missing}
                | {(i, "value_mismatch") for i in changed}
                | {(e, "extra_in_sink") for e in extra})
    assert got == expected


# ------------------------------------------------- canonical rendering


def _mini_ch_canon(vals) -> bytes:
    """Independent evaluator of the canonical-row contract: what the
    emitted ClickHouse SQL computes, written WITHOUT reusing the
    module's Spark expressions."""
    parts = []
    for v in vals:
        if v is None:
            parts.append("N")
        else:
            b = str(v)
            parts.append(f"{len(b.encode())}:{b}")
    return "".join(parts).encode()


def test_canonical_is_injective_across_field_boundaries(spark):
    df1 = spark.createDataFrame([("ab", "c")], "x string, y string")
    df2 = spark.createDataFrame([("a", "bc")], "x string, y string")
    cols = [("x", "String"), ("y", "String")]
    c1 = df1.select(sv.spark_canonical_row(df1, cols).alias("c")).first()["c"]
    c2 = df2.select(sv.spark_canonical_row(df2, cols).alias("c")).first()["c"]
    assert c1 != c2
    assert c1 == "2:ab1:c" and c2 == "1:a2:bc"


def test_canonical_null_vs_literal_N_vs_empty(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "N"), (3, "")], "id long, v string")
    cols = [("v", "Nullable(String)")]
    got = {r["id"]: r["c"] for r in df.select(
        "id", sv.spark_canonical_row(df, cols).alias("c")).collect()}
    assert got == {1: "N", 2: "1:N", 3: "0:"}


def test_canonical_multibyte_uses_byte_length(spark):
    df = spark.createDataFrame([("é",)], "v string")
    c = df.select(sv.spark_canonical_row(
        df, [("v", "String")]).alias("c")).first()["c"]
    assert c == "2:é"          # 2 UTF-8 bytes, 1 character


def test_pushdown_floats_hash_by_bit_pattern(spark):
    """Floats never render as text (engine-specific formatting): the
    canonical value is the IEEE bit pattern, identical to the emitted
    reinterpretAsUInt64/32.  NULL keeps the sentinel."""
    import struct as _struct
    rows = [(1, 1.5, 2.5), (2, -0.0, None), (3, 1e300, 3.14)]
    df = spark.createDataFrame(rows, "id long, x double, y float")
    cols = [("id", "Int64"), ("x", "Float64"),
            ("y", "Nullable(Float32)")]
    sql = sv.clickhouse_digest_sql("db", "t", cols, ["id"], 8)
    assert "reinterpretAsUInt64(`x`)" in sql
    assert "reinterpretAsUInt32(`y`)" in sql
    got = {r["id"]: r["c"] for r in df.select(
        "id", sv.spark_canonical_row(df, cols).alias("c")).collect()}

    def bits64(v):
        return str(_struct.unpack("<Q", _struct.pack("<d", v))[0])

    def bits32(v):
        return str(_struct.unpack("<I", _struct.pack("<f", v))[0])

    for (i, x, y) in rows:
        xs, ys = bits64(x), (None if y is None else bits32(y))
        want = f"1:{i}{len(xs)}:{xs}"
        want += "N" if ys is None else f"{len(ys)}:{ys}"
        assert got[i] == want, (i, got[i], want)
    # -0.0 and 0.0 are DIFFERENT bit patterns: the digest must tell
    # them apart (both engines store what they were given)
    z = spark.createDataFrame([(1, 0.0)], "id long, x double")
    nz = spark.createDataFrame([(1, -0.0)], "id long, x double")
    c2 = [("id", "Int64"), ("x", "Float64")]
    dz = sv.spark_pushdown_digest(z, c2, ["id"], 4).collect()
    dnz = sv.spark_pushdown_digest(nz, c2, ["id"], 4).collect()
    assert not sv.compare_digests(dz, dnz).in_sync


def test_pushdown_digest_matches_independent_evaluator(spark):
    rows = [
        (1, "alpha", None, date(2024, 1, 2),
         datetime(2024, 1, 2, 3, 4, 5), Decimal("12.30")),
        (2, None, 7, date(1970, 1, 1),
         datetime(2024, 1, 2, 3, 4, 5, 123456), Decimal("-0.01")),
        (3, "émoji™", -5, None, None, None),
    ]
    schema = ("id long, name string, n int, d date, ts timestamp, "
              "amt decimal(10,2)")
    df = spark.createDataFrame(rows, schema)
    columns = [("id", "Int64"), ("name", "Nullable(String)"),
               ("n", "Nullable(Int32)"), ("d", "Nullable(Date)"),
               ("ts", "Nullable(DateTime64(6))"),
               ("amt", "Nullable(Decimal(10,2))")]
    got = {int(r["bucket"]): (int(r["cnt"]),
                              int(r["xor_fp"]) % (1 << 64),
                              int(r["sum_fp"]))
           for r in sv.spark_pushdown_digest(
               df, columns, ["id"], 8).collect()}

    # the mini-CH: render each column the way the emitted SQL does
    import collections
    agg = collections.defaultdict(lambda: [0, 0, 0])
    import calendar
    for (i, name, n, d, ts, amt) in rows:
        # DateTime64 canonical is epoch MICROS, computed here as UTC
        # from the same naive values Spark was given (the session
        # timezone is pinned to UTC below)
        micros = (None if ts is None else
                  calendar.timegm(ts.timetuple()) * 10**6
                  + ts.microsecond)
        canon_vals = [i, name, n, d, micros, amt]
        fp = cityhash64(_mini_ch_canon(canon_vals))
        b = cityhash64(_mini_ch_canon([i])) % 8
        a = agg[b]
        a[0] += 1
        a[1] ^= fp
        a[2] += fp
    expected = {b: tuple(v) for b, v in agg.items()}
    assert got == expected


def test_pushdown_non_power_of_two_buckets_match_server_semantics(
        spark):
    """ADVICE r13 medium: Spark used pmod over the SIGNED int64 view
    of the CityHash64 fingerprint while the emitted SQL computes
    UInt64 % n_buckets -- for hashes >= 2^63 these agree only when
    n_buckets divides 2^64, so `--buckets 1000` flagged ~half the
    buckets of a perfectly in-sync table.  The fix computes the
    UNSIGNED modulo; pin it against the independent evaluator at a
    non-power-of-two count over enough rows that high-bit hashes are
    certain to occur (P[no hash >= 2^63 in 400 rows] ~ 2^-400)."""
    n_buckets = 1000
    rows = [(i, f"s{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, s string")
    columns = [("id", "Int64"), ("s", "String")]
    got = {int(r["bucket"]): (int(r["cnt"]),
                              int(r["xor_fp"]) % (1 << 64),
                              int(r["sum_fp"]))
           for r in sv.spark_pushdown_digest(
               df, columns, ["id"], n_buckets).collect()}
    import collections
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for i, s in rows:
        fp = cityhash64(_mini_ch_canon([i, s]))
        b = cityhash64(_mini_ch_canon([i])) % n_buckets   # UInt64 %
        agg[b][0] += 1
        agg[b][1] ^= fp
        agg[b][2] += fp
    assert got == {b: tuple(v) for b, v in agg.items()}
    # the drill-down bucket column must agree with the same semantics
    buckets = {int(r["b"]) for r in df.select(
        sv.spark_bucket_col(df, [("id", "Int64")], n_buckets)
        .alias("b")).collect()}
    assert buckets == {cityhash64(_mini_ch_canon([i])) % n_buckets
                       for i, _ in rows}


def test_digest_sql_shape_and_tsv_roundtrip():
    sql = sv.clickhouse_digest_sql(
        "olap", "orders", [("id", "Int64"), ("s", "String")],
        ["id"], 16, final=True)
    assert "groupBitXor(fp)" in sql
    assert "sum(toUInt256(fp))" in sql
    assert "% 16" in sql
    assert "`olap`.`orders` FINAL" in sql
    assert "FORMAT TabSeparated" in sql
    body = b"0\t10\t123\t456\n3\t7\t18446744073709551615\t99\n"
    rows = sv.parse_digest_tsv(body)
    assert rows[1] == {"bucket": 3, "cnt": 7,
                       "xor_fp": (1 << 64) - 1, "sum_fp": 99}
    cmp = sv.compare_digests(rows, rows)
    assert cmp.in_sync and cmp.rows_src == 17


def test_spark_digest_comparable_with_parsed_tsv(spark):
    # signed Spark xor vs unsigned ClickHouse xor normalize equal
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(50)], "id long, s string")
    columns = [("id", "Int64"), ("s", "String")]
    spark_rows = sv.spark_pushdown_digest(df, columns, ["id"], 4).collect()
    # fabricate the server body from the independent evaluator
    import collections
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for i in range(50):
        fp = cityhash64(_mini_ch_canon([i, f"s{i}"]))
        b = cityhash64(_mini_ch_canon([i])) % 4
        agg[b][0] += 1
        agg[b][1] ^= fp
        agg[b][2] += fp
    body = "\n".join(
        f"{b}\t{v[0]}\t{v[1]}\t{v[2]}"
        for b, v in sorted(agg.items())).encode()
    cmp = sv.compare_digests(spark_rows, sv.parse_digest_tsv(body))
    assert cmp.in_sync


# ------------------------------------------------------------ repair


def test_repair_statements_by_status():
    diff = [
        {"id": 7, "status": "missing_in_sink",
         "src_row": '{"id":7,"v":"a"}', "dst_row": None},
        {"id": 13, "status": "value_mismatch",
         "src_row": '{"id":13,"v":"b"}', "dst_row": '{"id":13,"v":"x"}'},
        {"id": 99, "status": "extra_in_sink",
         "src_row": None, "dst_row": '{"id":99}'},
        {"id": 500, "status": "duplicate_pk_in_sink",
         "src_row": None, "dst_row": None},
    ]
    stmts = sv.repair_statements(diff, "olap", "t", ["id"])
    assert stmts[0]["statement"] == (
        'INSERT INTO `olap`.`t` FORMAT JSONEachRow {"id":7,"v":"a"}')
    assert stmts[1]["statement"].startswith("INSERT INTO")
    assert stmts[2]["statement"] == (
        "ALTER TABLE `olap`.`t` DELETE WHERE `id` = 99")
    assert stmts[3]["statement"] is None
    assert "OPTIMIZE" in stmts[3]["manual"]


def test_repair_escapes_string_pks():
    diff = [{"k": "o'brien\\x", "status": "extra_in_sink",
             "src_row": None, "dst_row": "{}"}]
    (s,) = sv.repair_statements(diff, "d", "t", ["k"])
    assert s["statement"].endswith("WHERE `k` = 'o\\'brien\\\\x'")


# -------------------------------------------------- HTTP read-back


class _MiniClickHouse:
    """A fake that EVALUATES read-back queries over a Python row
    store: bucket-split SELECTs serve JSONEachRow slices computed with
    the same public cityHash64-over-canonical-pk semantics
    `syncverify.clickhouse_bucket_sql` asks a real server for."""

    def __init__(self, rows: list[dict], pk: str, n_splits: int):
        self.rows, self.pk, self.n = rows, pk, n_splits
        self.queries: list[str] = []
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):               # noqa: N802
                qs = parse_qs(urlparse(self.path).query)
                query = qs.get("query", [""])[0]
                with outer._lock:
                    outer.queries.append(query)
                resp = outer._serve(query)
                self.send_response(200)
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)

            def log_message(self, *a):
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self._httpd.server_address[1]}"
        threading.Thread(target=self._httpd.serve_forever,
                         daemon=True).start()

    def _serve(self, query: str) -> bytes:
        import re
        m = re.search(r"=\s*(\d+)\s+FORMAT JSONEachRow", query)
        if not m:
            return b""
        i = int(m.group(1))
        out = []
        for r in self.rows:
            h = cityhash64(_mini_ch_canon([r[self.pk]])) % self.n
            if h == i:
                out.append(json.dumps(r))
        return ("\n".join(out) + "\n").encode() if out else b""

    def stop(self):
        self._httpd.shutdown()
        self._httpd.server_close()


def test_read_clickhouse_http_distributed_slices(spark):
    from pyspark.sql import types as T

    from mysql_syncer_clickhouse_spark.sinks.clickhouse import (
        ClickHouseHTTPSink)
    rows = [{"id": i, "name": f"n{i}", "qty": i * 2} for i in range(200)]
    srv = _MiniClickHouse(rows, "id", 4)
    try:
        schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("qty", T.LongType())])
        df = ClickHouseHTTPSink(srv.url, "olap", "t").read_back(
            spark, schema,
            split_expr=sv.clickhouse_bucket_sql([("id", "Int64")], 4),
            n_splits=4)
        got = sorted((r["id"], r["name"], r["qty"]) for r in df.collect())
        assert got == [(i, f"n{i}", i * 2) for i in range(200)]
        # one query per split, each a slice predicate
        assert len(srv.queries) == 4
        assert all("FORMAT JSONEachRow" in q for q in srv.queries)
        joined = " ".join(srv.queries)
        for i in range(4):
            assert f"= {i} " in joined
    finally:
        srv.stop()


def test_read_back_then_verify_roundtrip(spark):
    """The full Spark-mode loop: write-shaped rows served by the fake,
    read back distributed, verified against the source frame."""
    from pyspark.sql import types as T

    from mysql_syncer_clickhouse_spark.sinks.clickhouse import (
        ClickHouseHTTPSink)
    src = spark.createDataFrame(
        [(i, f"n{i}") for i in range(100)], "id long, name string")
    # sink drifted: row 5 missing, row 9 changed
    rows = [{"id": i, "name": ("CHANGED" if i == 9 else f"n{i}")}
            for i in range(100) if i != 5]
    srv = _MiniClickHouse(rows, "id", 3)
    try:
        schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType())])
        dst = ClickHouseHTTPSink(srv.url, "olap", "t").read_back(
            spark, schema,
            split_expr=sv.clickhouse_bucket_sql([("id", "Int64")], 3),
            n_splits=3)
        report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=16)
        assert not report["in_sync"]
        got = {(r["id"], r["status"]) for r in diff.collect()}
        assert got == {(5, "missing_in_sink"), (9, "value_mismatch")}
    finally:
        srv.stop()


# ------------------------------------------------------ CLI e2e


class _ChecksumFakeCH:
    """A fake sink for the --checksum CLI that EVALUATES all four
    request kinds with the independent mini-evaluator: system.columns
    introspection, the pushdown digest aggregate, bucket-IN read-back,
    and repair writes (recorded)."""

    def __init__(self, rows: list[dict],
                 schema: list[tuple[str, str]],
                 pk: list[str], n_buckets: int,
                 engine: str = "ReplacingMergeTree"):
        self.rows, self.schema = rows, schema
        self.pk, self.n = pk, n_buckets
        self.engine = engine
        self.writes: list[str] = []
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):               # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                qs = parse_qs(urlparse(self.path).query)
                query = qs.get("query", [""])[0]
                resp = outer._serve(query, body)
                self.send_response(200)
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)

            def log_message(self, *a):
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self._httpd.server_address[1]}"
        threading.Thread(target=self._httpd.serve_forever,
                         daemon=True).start()

    def _canon_order(self) -> list[str]:
        rest = sorted(n for n, _ in self.schema if n not in self.pk)
        return self.pk + rest

    def _bucket(self, r: dict) -> int:
        return cityhash64(
            _mini_ch_canon([r[c] for c in self.pk])) % self.n

    def _serve(self, query: str, body: bytes = b"") -> bytes:
        import collections
        import re
        with self._lock:
            if query.startswith(("INSERT", "ALTER")):
                self.writes.append(query)
                return b""
            if "system.columns" in query:
                return "".join(
                    f"{n}\t{t}\n" for n, t in self.schema).encode()
            if "system.tables" in query:
                return f"{self.engine}\n".encode()
            if "groupBitXor" in query:
                # evaluate the columns the QUERY references (schema
                # drift means the emitted digest covers only the
                # common subset), in their first-appearance order
                known = {n for n, _ in self.schema}
                refs = [n for n in re.findall(r"`([^`]+)`", query)
                        if n in known]
                order = list(dict.fromkeys(refs)) or self._canon_order()
                sm = re.search(r"WHERE bucket % (\d+) = (\d+)", query)
                sample = ((int(sm.group(1)), int(sm.group(2)))
                          if sm else None)
                agg = collections.defaultdict(lambda: [0, 0, 0])
                for r in self.rows:
                    b = self._bucket(r)
                    if sample and b % sample[0] != sample[1]:
                        continue
                    fp = cityhash64(
                        _mini_ch_canon([r[c] for c in order]))
                    a = agg[b]
                    a[0] += 1
                    a[1] ^= fp
                    a[2] += fp
                return "".join(
                    f"{b}\t{v[0]}\t{v[1]}\t{v[2]}\n"
                    for b, v in sorted(agg.items())).encode()
            m = re.search(r"=\s*(\d+)\s+FORMAT JSONEachRow", query)
            if m:
                i = int(m.group(1))
                out = [json.dumps(r) for r in self.rows
                       if self._bucket(r) == i]
                return ("\n".join(out) + "\n").encode() if out else b""
            return b""

    def stop(self):
        self._httpd.shutdown()
        self._httpd.server_close()


_CHECKSUM_SCHEMA = [("id", "Int64"), ("es_title", "Nullable(String)"),
                    ("mydate", "Nullable(Int64)"), ("op", "String"),
                    ("seq", "Int64")]


def _write_items_changelog(spark, tmp_path):
    import os
    changelog = tmp_path / "changelog" / "app.items"
    os.makedirs(changelog)
    rows = [
        (1, "insert", 1, "first", 86400),
        (2, "insert", 2, "second", 86400),
        (3, "update", 1, "first-edited", 86400),
        (4, "delete", 2, None, None),
    ]
    spark.createDataFrame(
        rows, "seq long, op string, id long, title string, mydate long"
    ).coalesce(1).write.mode("append").parquet(str(changelog))
    return str(tmp_path / "changelog")


# expected sink state (max seq per pk, tombstones kept), sink-space
_EXPECTED_SINK = [
    {"id": 1, "es_title": "first-edited", "mydate": 86400,
     "op": "update", "seq": 3},
    {"id": 2, "es_title": None, "mydate": None,
     "op": "delete", "seq": 4},
]


def _checksum_cfg(tmp_path, url):
    import os

    from mysql_syncer_clickhouse_spark.config import EngineConfig
    toml = os.path.join(os.path.dirname(__file__), "..", "etc",
                        "river.toml")
    cfg = EngineConfig.from_toml(toml)
    cfg.data_dir = str(tmp_path / "log")
    cfg.sink_addr = url
    return cfg


def test_cli_checksum_in_sync(spark, tmp_path):
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    srv = _ChecksumFakeCH(list(_EXPECTED_SINK), _CHECKSUM_SCHEMA,
                          ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert line["in_sync"] is True
        assert line["rows_src"] == 2 and line["rows_sink"] == 2
        assert line["buckets_mismatched"] == 0
        assert "diff" not in line
        assert out[-1]["out_of_sync"] == []
    finally:
        srv.stop()


def test_cli_checksum_deep_repair_emits_then_executes(spark, tmp_path):
    """Drifted sink: pk 1 changed, pk 2 missing, pk 99 extra.  --deep
    names each finding; --repair emits (not runs) the statements;
    --execute drives them against the sink."""
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    drifted = [
        {"id": 1, "es_title": "STALE", "mydate": 86400,
         "op": "update", "seq": 3},
        {"id": 99, "es_title": "ghost", "mydate": 1,
         "op": "insert", "seq": 9},
    ]
    srv = _ChecksumFakeCH(drifted, _CHECKSUM_SCHEMA, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           deep=True, repair=True, spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert line["in_sync"] is False
        got = {(d["id"], d["status"]): d["differing_columns"]
               for d in line["diff"]}
        assert got[(1, "value_mismatch")] == ["es_title"]
        assert (2, "missing_in_sink") in got
        assert (99, "extra_in_sink") in got
        assert len(got) == 3
        stmts = {s["status"]: s["statement"] for s in line["repair"]}
        assert stmts["missing_in_sink"].startswith(
            "INSERT INTO `olap`.`items_sink` FORMAT JSONEachRow")
        assert '"es_title":null' in stmts["missing_in_sink"]
        assert stmts["extra_in_sink"] == (
            "ALTER TABLE `olap`.`items_sink` DELETE WHERE `id` = 99")
        assert line["repair_executed"] is False
        assert srv.writes == []          # emit-only by default

        out2 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                            deep=True, repair=True, execute=True,
                            spark=spark)
        line2 = next(x for x in out2 if x.get("rule") == "app:items")
        assert line2["repair_executed"] is True
        kinds = sorted(w.split(" ", 1)[0] for w in srv.writes)
        assert kinds == ["ALTER", "INSERT", "INSERT"]
    finally:
        srv.stop()


def test_cli_checksum_schema_drift_reported(spark, tmp_path):
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    # sink lost 'mydate' and grew 'bonus'
    schema = [(n, t) for n, t in _CHECKSUM_SCHEMA if n != "mydate"]
    schema.append(("bonus", "Nullable(String)"))
    rows = [{k: v for k, v in r.items() if k != "mydate"}
            for r in _EXPECTED_SINK]
    srv = _ChecksumFakeCH(rows, schema, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert line["schema_missing_in_sink"] == ["mydate"]
        assert line["schema_extra_in_sink"] == ["bonus"]
        assert line["in_sync"] is False   # schema gap = not in sync
        assert line["buckets_mismatched"] == 0   # common data agrees
    finally:
        srv.stop()


class _ApplyingFakeCH(_ChecksumFakeCH):
    """_ChecksumFakeCH plus the WRITE half: INSERT JSONEachRow bodies
    land in the row store with the ReplacingMergeTree (pk, seq)
    collapse applied (last-wins per pk -- what a FINAL read returns),
    so a drain's applied state is what the digest then evaluates."""

    def _serve(self, query: str, body: bytes = b"") -> bytes:
        if query.lstrip().upper().startswith("INSERT") and body:
            with self._lock:
                self.writes.append(query)
                by_pk = {tuple(r[c] for c in self.pk): r
                         for r in self.rows}
                for line in body.decode().splitlines():
                    if not line.strip():
                        continue
                    r = json.loads(line)
                    key = tuple(r[c] for c in self.pk)
                    old = by_pk.get(key)
                    if old is None or r.get("seq", 0) >= \
                            old.get("seq", 0):
                        by_pk[key] = r
                self.rows[:] = list(by_pk.values())
            return b""
        return super()._serve(query, body)


def test_cli_drain_then_verify_after_drain(spark, tmp_path, capsys,
                                           monkeypatch):
    """--verify-after-drain (r13 VERDICT next #7), full CLI: an
    availableNow drain applies the changelog to the sink and exits
    caught-up BY CONSTRUCTION -- the quiesced point --checksum's
    docstring demands -- then the automatic verification digests the
    sink against the same stream and reports in_sync. One command,
    drain + proof."""
    import mysql_syncer_clickhouse_spark.__main__ as M

    changelog = _write_items_changelog(spark, tmp_path)
    # the store starts EMPTY: every synced row arrives via the drain
    srv = _ApplyingFakeCH([], _CHECKSUM_SCHEMA, ["id"], 16)
    base = open(os.path.join(os.path.dirname(__file__), "..", "etc",
                             "river.toml")).read()
    toml = tmp_path / "river.toml"
    base = base.replace('data_dir = "./log"',
                        f'data_dir = "{tmp_path}/log"')
    # sink_addr must PREPEND: appended keys would land inside the
    # trailing [rule.field] table
    toml.write_text(f'sink_addr = "{srv.url}"\n' + base)
    # reuse the module-scoped session (main would build its own)
    monkeypatch.setattr(M, "get_spark", lambda *a, **kw: spark)
    try:
        rc = M.main(["--config", str(toml),
                     "--changelog-dir", changelog,
                     "--verify-after-drain", "--buckets", "16"])
        assert rc == 0
        out_lines = [json.loads(x) for x in
                     capsys.readouterr().out.splitlines() if x.strip()]
        [drained] = [x for x in out_lines if x.get("ops")]
        assert drained["ops"] == {"insert": 2, "update": 1,
                                  "delete": 1}
        vline = next(x for x in out_lines
                     if x.get("mode") == "checksum"
                     and x.get("rule") == "app:items")
        assert vline["in_sync"] is True
        assert vline["rows_src"] == 2 and vline["rows_sink"] == 2
        # a --follow loop never reaches the quiesced point: refuse
        with pytest.raises(SystemExit):
            M.main(["--config", str(toml), "--changelog-dir",
                    changelog, "--verify-after-drain", "--follow"])
    finally:
        srv.stop()


def test_cli_verify_after_drain_file_sink(spark, tmp_path, capsys,
                                          monkeypatch):
    """--verify-after-drain with NO ClickHouse at all: the DEFAULT
    deployment (parquet file sinks) gets drain + proof in one command
    too, through the file-mode checksum."""
    import mysql_syncer_clickhouse_spark.__main__ as M

    changelog = _write_items_changelog(spark, tmp_path)
    base = open(os.path.join(os.path.dirname(__file__), "..", "etc",
                             "river.toml")).read()
    base = base.replace('data_dir = "./log"',
                        f'data_dir = "{tmp_path}/log"')
    toml = tmp_path / "river.toml"
    toml.write_text(base)
    monkeypatch.setattr(M, "get_spark", lambda *a, **kw: spark)
    rc = M.main(["--config", str(toml), "--changelog-dir", changelog,
                 "--verify-after-drain", "--buckets", "16"])
    assert rc == 0
    out_lines = [json.loads(x) for x in
                 capsys.readouterr().out.splitlines() if x.strip()]
    vline = next(x for x in out_lines
                 if x.get("mode") == "checksum"
                 and x.get("rule") == "app:items")
    assert vline["transport"] == "file"
    assert vline["in_sync"] is True


def test_cli_verify_after_drain_sampled_slice(spark, tmp_path, capsys,
                                              monkeypatch):
    """--verify-after-drain M:K runs the rotating sample slice -- the
    cheap periodic form for cron'd drains."""
    import mysql_syncer_clickhouse_spark.__main__ as M

    changelog = _write_items_changelog(spark, tmp_path)
    srv = _ApplyingFakeCH([], _CHECKSUM_SCHEMA, ["id"], 16)
    base = open(os.path.join(os.path.dirname(__file__), "..", "etc",
                             "river.toml")).read()
    toml = tmp_path / "river.toml"
    base = base.replace('data_dir = "./log"',
                        f'data_dir = "{tmp_path}/log"')
    # sink_addr must PREPEND: appended keys would land inside the
    # trailing [rule.field] table
    toml.write_text(f'sink_addr = "{srv.url}"\n' + base)
    monkeypatch.setattr(M, "get_spark", lambda *a, **kw: spark)
    try:
        rc = M.main(["--config", str(toml),
                     "--changelog-dir", changelog,
                     "--verify-after-drain", "4:1", "--buckets", "16"])
        assert rc == 0
        out_lines = [json.loads(x) for x in
                     capsys.readouterr().out.splitlines() if x.strip()]
        vline = next(x for x in out_lines
                     if x.get("mode") == "checksum"
                     and x.get("rule") == "app:items")
        assert vline["sample"] == "4:1"
        assert vline["in_sync"] is True
    finally:
        srv.stop()


def test_cli_checksum_verifies_file_sinks(spark, tmp_path):
    """No ClickHouse configured: --checksum verifies the rule's FILE
    sink (the engine's default parquet changelog directory) against
    the user-facing state contract -- latest per pk, tombstones
    dropped, `op` excluded so the verdict holds before AND after
    compact(). Drain -> in_sync; planted divergence -> named
    findings; a missing sink dir -> per-rule error with remedy."""
    from mysql_syncer_clickhouse_spark.__main__ import run, run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    cfg = _checksum_cfg(tmp_path, None)
    cfg.sink_addr = None

    # before any drain: graceful per-rule error, not a crash
    out0 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                        spark=spark)
    line0 = next(x for x in out0 if x.get("rule") == "app:items")
    assert line0["transport"] == "file"
    assert "not found" in line0["error"]

    run(cfg, changelog, spark=spark)            # drain to parquet
    out1 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                        spark=spark)
    line1 = next(x for x in out1 if x.get("rule") == "app:items")
    assert line1["transport"] == "file"
    assert line1["in_sync"] is True
    assert line1["rows_src"] == 1 == line1["rows_sink"]   # pk2 deleted

    # plant divergence: a ghost row appended straight into the sink
    # files (bypassing the drain -- exactly the corruption class a
    # checksum exists to catch)
    sink_path = cfg.sink_dir(cfg.effective_rules(None).rules[0])
    spark.createDataFrame(
        [(99, "insert", 999, "ghost", 1)],
        "seq long, op string, id long, es_title string, mydate long"
    ).coalesce(1).write.mode("append").parquet(sink_path)
    out2 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                        deep=True, repair=True, spark=spark)
    line2 = next(x for x in out2 if x.get("rule") == "app:items")
    assert line2["in_sync"] is False
    got = {(d["id"], d["status"]) for d in line2["diff"]}
    assert got == {(999, "extra_in_sink")}
    assert "re-drain" in line2["repair_note"]

    # sampled slice still works against the file sink
    out3 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                        sample=(2, 0), spark=spark)
    line3 = next(x for x in out3 if x.get("rule") == "app:items")
    assert line3["sample"] == "2:0"


def test_cli_checksum_file_sink_survives_compaction(spark, tmp_path):
    """The op-exclusion design claim, proven: a --compact drain
    rewrites the sink to its materialized state (op forced to
    'insert', tombstones dropped) -- the file-mode checksum must
    still report in_sync, because both sides reduce to the same
    user-facing contract."""
    from mysql_syncer_clickhouse_spark.__main__ import run, run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    cfg = _checksum_cfg(tmp_path, None)
    cfg.sink_addr = None
    run(cfg, changelog, compact=True, spark=spark)
    out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                       spark=spark)
    line = next(x for x in out if x.get("rule") == "app:items")
    assert line["transport"] == "file"
    assert line["in_sync"] is True
    assert line["rows_src"] == 1 == line["rows_sink"]


class _ValuesApplyingFakeCH(_ChecksumFakeCH):
    """_ChecksumFakeCH plus the binary-safe WRITE half: INSERT ...
    VALUES statements (the HTTP transport's rewritten repair form for
    binary columns) apply to the row store with unhex('H') evaluating
    to the hex string H -- the fake's value space IS what hex(col)
    returns, matching its digest evaluator."""

    def _serve(self, query: str, body: bytes = b"") -> bytes:
        import ast
        import re
        m = re.match(
            r"INSERT INTO `[^`]+`\.`[^`]+` \(([^)]*)\) "
            r"VALUES \((.*)\)\s*$", query, re.S)
        if m:
            with self._lock:
                self.writes.append(query)
                names = [c.strip(" `") for c in m.group(1).split(",")]
                vals_s = re.sub(r"unhex\('([0-9A-Fa-f]*)'\)",
                                r"'\1'", m.group(2))
                vals_s = vals_s.replace("NULL", "None")
                vals = list(ast.literal_eval(f"[{vals_s}]"))
                r = dict(zip(names, vals))
                by_pk = {tuple(x[c] for c in self.pk): x
                         for x in self.rows}
                key = tuple(r[c] for c in self.pk)
                old = by_pk.get(key)
                if old is None or r.get("seq", 0) >= \
                        old.get("seq", 0):
                    by_pk[key] = r
                self.rows[:] = list(by_pk.values())
            return b""
        return super()._serve(query, body)


def test_cli_checksum_deep_repairs_binary_over_http(spark, tmp_path):
    """VERDICT r14 #3 (the r13 ADVICE remedy, landed): --deep over
    the HTTP transport now drills into binary columns -- the
    read-back SELECT renders hex(col), the coercer decodes, and the
    repair re-INSERT rewrites to VALUES+unhex so raw bytes (not
    base64 text) land in the sink.  This is the native transport's
    binary e2e (test_syncverify_native.py) passing over the HTTP
    fake too."""
    import os

    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = tmp_path / "changelog" / "app.items"
    os.makedirs(changelog)
    spark.createDataFrame(
        [(1, "insert", 1, bytearray(b"\x00\xffA")),
         (2, "insert", 2, bytearray(b"zz"))],
        "seq long, op string, id long, payload binary"
    ).coalesce(1).write.mode("append").parquet(str(changelog))
    schema = [("id", "Int64"), ("op", "String"),
              ("payload", "Nullable(String)"), ("seq", "Int64")]
    # fake stores the HEX rendering (its value space is what hex()
    # returns); pk 2's payload drifted (hex of b"zz" is 7A7A)
    rows = [{"id": 1, "op": "insert", "payload": "00FF41", "seq": 1},
            {"id": 2, "op": "insert", "payload": "AAAA", "seq": 2}]
    srv = _ValuesApplyingFakeCH(rows, schema, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, changelog_dir=str(tmp_path / "changelog"),
                           buckets=16, deep=True, repair=True,
                           execute=True, spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert line["in_sync"] is False
        assert line["buckets_mismatched"] == 1
        assert "deep_error" not in line
        got = {(d["id"], d["status"]): d["differing_columns"]
               for d in line["diff"]}
        assert got == {(2, "value_mismatch"): ["payload"]}
        # the executed repair shipped raw bytes via unhex, not base64
        [w] = srv.writes
        assert "VALUES" in w and "unhex('7A7A')" in w
        assert "JSONEachRow" not in w
        out2 = run_checksum(cfg, changelog_dir=str(tmp_path / "changelog"),
                            buckets=16, spark=spark)
        line2 = next(x for x in out2 if x.get("rule") == "app:items")
        assert line2["in_sync"] is True
    finally:
        srv.stop()


def test_pushdown_binary_columns_hash_as_hex(spark):
    """Raw bytes canonicalize as uppercase hex on both sides
    (ClickHouse String is byte-transparent; Spark strings are UTF-8 --
    hex is the injective common ground). Spark auto-detects
    BinaryType; the SQL emitter takes the matching set."""
    rows = [(1, bytearray(b"\x00\xffA")), (2, None)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    cols = [("id", "Int64"), ("payload", "Nullable(String)")]
    sql = sv.clickhouse_digest_sql("db", "t", cols, ["id"], 8,
                                   binary_cols={"payload"})
    assert "hex(`payload`)" in sql
    got = {r["id"]: r["c"] for r in df.select(
        "id", sv.spark_canonical_row(df, cols).alias("c")).collect()}
    assert got[1] == "1:16:00FF41"        # uppercase hex, byte length
    assert got[2] == "1:2N"
    # independent evaluator agreement on the digest
    dig = {int(r["bucket"]): (int(r["cnt"]),
                              int(r["xor_fp"]) % (1 << 64),
                              int(r["sum_fp"]))
           for r in sv.spark_pushdown_digest(
               df, cols, ["id"], 4).collect()}
    import collections
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for (i, payload) in rows:
        hexed = None if payload is None else bytes(payload).hex().upper()
        fp = cityhash64(_mini_ch_canon([i, hexed]))
        b = cityhash64(_mini_ch_canon([i])) % 4
        agg[b][0] += 1
        agg[b][1] ^= fp
        agg[b][2] += fp
    assert dig == {b: tuple(v) for b, v in agg.items()}


def test_sync_verify_diff_matches_duckdb_oracle(spark, sf_dir):
    """Oracle-grade check for the drill-down output (the registry is
    capped at 50 driver entries, so S9's oracle lives in-suite): both
    sides read the SAME parquet fixtures -- orders vs a
    deterministically perturbed orders -- and DuckDB computes the
    expected (pk, status, differing_columns) via a plain FULL OUTER
    JOIN while sync_verify gets there through bucket digests + bounded
    drill-down. The hash internals never appear in the output, so the
    comparison is exact."""
    import duckdb

    path = f"{sf_dir}/orders.parquet"
    src = spark.read.parquet(path)
    # deterministic perturbation: drop keys %97==0, bump price where
    # %89==0, inject extras by shifting keys %101==0
    from pyspark.sql import functions as F
    dst = (src.filter(F.col("o_orderkey") % 97 != 0)
              .withColumn("o_totalprice",
                          F.when(F.col("o_orderkey") % 89 == 0,
                                 F.col("o_totalprice") + 1.0)
                          .otherwise(F.col("o_totalprice"))))
    extras = (src.filter(F.col("o_orderkey") % 101 == 0)
                 .withColumn("o_orderkey",
                             F.col("o_orderkey") + 10_000_000))
    dst = dst.unionByName(extras)

    report, diff = sv.sync_verify(src, dst, ["o_orderkey"],
                                  n_buckets=64)
    got = sorted((r["o_orderkey"], r["status"],
                  tuple(r["differing_columns"]))
                 for r in diff.collect())

    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM '{path}'")
    con.execute(f"""CREATE VIEW dst AS
        SELECT o_orderkey,
               o_custkey,
               o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0
                    THEN o_totalprice + 1.0 ELSE o_totalprice END
                   AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM src WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM src WHERE o_orderkey % 101 = 0""")
    want = sorted(
        (k, s, ("o_totalprice",) if s == "value_mismatch" else ())
        for k, s in con.execute("""
            SELECT coalesce(s.o_orderkey, d.o_orderkey) AS k,
                   CASE WHEN d.o_orderkey IS NULL
                        THEN 'missing_in_sink'
                        WHEN s.o_orderkey IS NULL
                        THEN 'extra_in_sink'
                        ELSE 'value_mismatch' END AS status
            FROM src s FULL OUTER JOIN dst d
              ON s.o_orderkey = d.o_orderkey
            WHERE d.o_orderkey IS NULL OR s.o_orderkey IS NULL
               OR s.o_totalprice <> d.o_totalprice
            ORDER BY k""").fetchall())
    assert got == want
    assert not report["in_sync"]
    assert len(got) > 0          # the fixture really perturbs


def test_cityhash64_arrow_property_matches_pure():
    """Hypothesis fuzz of the zero-copy Arrow hash path against the
    pure-Python reference: arbitrary unicode (multibyte, empty,
    surrogy-adjacent) through pa.string, pa.large_string and sliced
    arrays must hash identically to per-value CityHash64."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mysql_syncer_clickhouse_spark.sinks.cityhash102 import (
        cityhash64_arrow)

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.text(max_size=300), max_size=40),
           st.integers(min_value=0, max_value=5))
    def check(vals, off):
        want = [cityhash64(v.encode("utf-8")) for v in vals]
        for typ in (pa.string(), pa.large_string()):
            arr = pa.array(vals, type=typ)
            assert list(cityhash64_arrow(arr)) == want
            if off < len(vals):
                assert list(cityhash64_arrow(arr.slice(off))) \
                    == want[off:]

    check()


def test_sampled_digest_partitions_the_full_digest(spark):
    """Slices over K in [0, M) union back to the full digest -- the
    rotating-cron contract: M runs cover everything, nothing twice."""
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(400)], "id long, v string")
    full = {int(r["bucket"]): (int(r["cnt"]), int(r["xor_fp"]),
                               int(r["sum_fp"]))
            for r in sv.bucket_digest(df, ["id"], 32).collect()}
    merged = {}
    for k in range(4):
        part = sv.bucket_digest(df, ["id"], 32,
                                sample=(4, k)).collect()
        for r in part:
            b = int(r["bucket"])
            assert b % 4 == k
            assert b not in merged
            merged[b] = (int(r["cnt"]), int(r["xor_fp"]),
                         int(r["sum_fp"]))
    assert merged == full


def test_sampled_pushdown_matches_evaluator_and_sql(spark):
    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(100)], "id long, s string")
    columns = [("id", "Int64"), ("s", "String")]
    sql = sv.clickhouse_digest_sql("d", "t", columns, ["id"], 16,
                                   sample=(4, 1))
    assert "WHERE bucket % 4 = 1" in sql
    got = {int(r["bucket"]) for r in sv.spark_pushdown_digest(
        df, columns, ["id"], 16, sample=(4, 1)).collect()}
    assert got and all(b % 4 == 1 for b in got)
    # the evaluator twin restricted the same way agrees
    import collections
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for i in range(100):
        b = cityhash64(_mini_ch_canon([i])) % 16
        if b % 4 != 1:
            continue
        fp = cityhash64(_mini_ch_canon([i, f"s{i}"]))
        agg[b][0] += 1
        agg[b][1] ^= fp
        agg[b][2] += fp
    want = {b: tuple(v) for b, v in agg.items()}
    have = {int(r["bucket"]): (int(r["cnt"]),
                               int(r["xor_fp"]) % (1 << 64),
                               int(r["sum_fp"]))
            for r in sv.spark_pushdown_digest(
                df, columns, ["id"], 16, sample=(4, 1)).collect()}
    assert have == want


def test_cli_checksum_sample_sees_only_its_slice(spark, tmp_path):
    """--checksum-sample M:K verifies 1/M of the buckets: drift whose
    bucket falls in the slice is caught this run; drift outside waits
    for its rotation (asserted BOTH ways, so the test fails if
    sampling silently degrades to a full scan or to a no-op)."""
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    # drift pk 1 (change) and pk 2 (missing); compute their buckets
    b1 = cityhash64(_mini_ch_canon([1])) % 16
    b2 = cityhash64(_mini_ch_canon([2])) % 16
    assert b1 % 2 != b2 % 2   # fixture puts them in different slices
    drifted = [
        {"id": 1, "es_title": "STALE", "mydate": 86400,
         "op": "update", "seq": 3},
    ]
    srv = _ChecksumFakeCH(drifted, _CHECKSUM_SCHEMA, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        hits = {}
        for k in (b1 % 2, b2 % 2):
            out = run_checksum(cfg, changelog_dir=changelog,
                               buckets=16, deep=True,
                               sample=(2, k), spark=spark)
            line = next(x for x in out if x.get("rule") == "app:items")
            assert line["sample"] == f"2:{k}"
            hits[k] = {(d["id"], d["status"])
                       for d in line.get("diff", [])}
        assert hits[b1 % 2] == {(1, "value_mismatch")}
        assert hits[b2 % 2] == {(2, "missing_in_sink")}
    finally:
        srv.stop()


def test_cli_checksum_against_dump_bootstrap(spark, tmp_path):
    """--checksum --dump-sql: verify a dump BOOTSTRAP landed intact --
    the snapshot rows (seq=-1 inserts, run_dump's contract) are the
    expected state; a sink that lost one row during bootstrap flags
    it."""
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    dump = tmp_path / "snap.sql"
    dump.write_text(
        "-- MySQL dump 10.13\n"
        "CREATE TABLE `items` (\n"
        "  `id` bigint NOT NULL,\n"
        "  `title` varchar(64) DEFAULT NULL,\n"
        "  `mydate` bigint DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `items` VALUES (1,'first',86400),"
        "(2,'second',86400);\n")
    schema = [("id", "Int64"), ("es_title", "Nullable(String)"),
              ("mydate", "Nullable(Int64)"), ("op", "String"),
              ("seq", "Int64")]
    good = [
        {"id": 1, "es_title": "first", "mydate": 86400,
         "op": "insert", "seq": -1},
        {"id": 2, "es_title": "second", "mydate": 86400,
         "op": "insert", "seq": -1},
    ]
    srv = _ChecksumFakeCH(list(good), schema, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, dump_path=str(dump), buckets=16,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert line["in_sync"] is True
        assert line["rows_src"] == 2
    finally:
        srv.stop()
    # bootstrap that dropped row 2
    srv = _ChecksumFakeCH(good[:1], schema, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, dump_path=str(dump), buckets=16,
                           deep=True, spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert not line["in_sync"]
        assert {(d["id"], d["status"]) for d in line["diff"]} == {
            (2, "missing_in_sink")}
    finally:
        srv.stop()


def test_cli_checksum_final_rejection_surfaces_with_remedy(
        spark, tmp_path):
    """A server that rejects the FINAL digest (plain-MergeTree sink)
    produces a per-rule error line naming --checksum-no-final instead
    of crashing the run; --checksum-no-final omits FINAL."""
    import re
    import threading as _t
    from http.server import BaseHTTPRequestHandler as _H
    from http.server import ThreadingHTTPServer as _S
    from urllib.parse import parse_qs as _pq
    from urllib.parse import urlparse as _up

    from mysql_syncer_clickhouse_spark.__main__ import run_checksum

    class _FinalHater:
        def __init__(self, inner):
            self.inner = inner
            outer = self

            class Handler(_H):
                def do_POST(self):            # noqa: N802
                    n = int(self.headers.get("Content-Length", 0))
                    self.rfile.read(n)
                    q = _pq(_up(self.path).query).get(
                        "query", [""])[0]
                    if re.search(r"\bFINAL\b", q):
                        body = (b"Code: 181. DB::Exception: Illegal "
                                b"FINAL")
                        self.send_response(500)
                        self.send_header("Content-Length",
                                         str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        return
                    resp = outer.inner._serve(q)
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(resp)))
                    self.end_headers()
                    self.wfile.write(resp)

                def log_message(self, *a):
                    pass

            self._httpd = _S(("127.0.0.1", 0), Handler)
            self.url = f"http://127.0.0.1:{self._httpd.server_address[1]}"
            _t.Thread(target=self._httpd.serve_forever,
                      daemon=True).start()

        def stop(self):
            self._httpd.shutdown()
            self._httpd.server_close()

    changelog = _write_items_changelog(spark, tmp_path)
    inner = _ChecksumFakeCH(list(_EXPECTED_SINK), _CHECKSUM_SCHEMA,
                            ["id"], 16)
    srv = _FinalHater(inner)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert "checksum-no-final" in line["error"]
        assert "Illegal FINAL" in line["error"]
        # and the documented remedy works
        out2 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                            final=False, spark=spark)
        line2 = next(x for x in out2 if x.get("rule") == "app:items")
        assert line2["in_sync"] is True
    finally:
        srv.stop()
        inner._httpd.server_close()


def test_null_pk_rows_are_their_own_finding(spark):
    """A NULL primary key is corruption, not identity: it must
    surface as null_pk_in_source/sink, never as a nonsense
    value_mismatch leaked through the presence checks."""
    src = spark.createDataFrame(
        [(1, "a"), (None, "corrupt-src")], "id long, v string")
    dst = spark.createDataFrame(
        [(1, "a"), (None, "corrupt-dst")], "id long, v string")
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=4)
    assert not report["in_sync"]   # null-pk rows hash differently
    got = {(r["id"], r["status"]) for r in diff.collect()}
    assert (None, "null_pk_in_source") in got
    assert (None, "null_pk_in_sink") in got
    assert not any(s == "value_mismatch" for (_i, s) in got)


def test_repair_null_pk_is_manual_with_correct_remedy():
    diff = [{"id": None, "status": "null_pk_in_sink",
             "src_row": None, "dst_row": "{}"}]
    (s,) = sv.repair_statements(diff, "d", "t", ["id"])
    assert s["statement"] is None
    assert "NULL primary key" in s["manual"]
    assert "OPTIMIZE" not in s["manual"]


def test_checksum_honors_skip_ops(spark, tmp_path):
    """With skip_delete/skip_update active the drain never applied
    those events, so the checksum's expected state must drop them the
    same way -- otherwise every skipped op reads as sink drift."""
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    # the sink a skip-everything drain produced: inserts only
    skipped_sink = [
        {"id": 1, "es_title": "first", "mydate": 86400,
         "op": "insert", "seq": 1},
        {"id": 2, "es_title": "second", "mydate": 86400,
         "op": "insert", "seq": 2},
    ]
    srv = _ChecksumFakeCH(skipped_sink, _CHECKSUM_SCHEMA, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        cfg.skip_delete = True
        cfg.skip_update = True
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert line["in_sync"] is True, line
        # and WITHOUT the skips, the same sink is rightly out of sync
        cfg.skip_delete = cfg.skip_update = False
        out2 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                            spark=spark)
        line2 = next(x for x in out2 if x.get("rule") == "app:items")
        assert line2["in_sync"] is False
    finally:
        srv.stop()


def test_cli_checksum_warns_on_non_replacing_engine(spark, tmp_path,
                                                    capsys):
    """A pre-existing Collapsing/Summing sink obeys its own FINAL
    semantics, not the last-wins contract the checksum reconstructs
    -- the run must say so loudly instead of reporting
    engine-behavior as drift. ReplacingMergeTree (and plain
    MergeTree) stay silent."""
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    srv = _ChecksumFakeCH(list(_EXPECTED_SINK), _CHECKSUM_SCHEMA,
                          ["id"], 16, engine="CollapsingMergeTree")
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        capsys.readouterr()
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert "CollapsingMergeTree" in line["engine_warning"]
        assert "WARN" in capsys.readouterr().err
    finally:
        srv.stop()
    srv2 = _ChecksumFakeCH(list(_EXPECTED_SINK), _CHECKSUM_SCHEMA,
                           ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv2.url)
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert "engine_warning" not in line
        assert line["in_sync"] is True
    finally:
        srv2.stop()


def test_cli_checksum_sample_auto_rotates_persisted_counter(
        spark, tmp_path):
    """--checksum-sample M:auto: the rotation counter persists in
    data_dir (atomic, like the DDL watermark), so M cron'd runs cover
    the whole keyspace with nobody tracking K by hand. Three runs at
    M=3 verify slices 0, 1, 2 and wrap; the counter advances only
    AFTER a completed sweep (a crashed run re-verifies its slice)."""
    import json as _json

    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    srv = _ChecksumFakeCH(list(_EXPECTED_SINK), _CHECKSUM_SCHEMA,
                          ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        seen = []
        for _ in range(4):
            out = run_checksum(cfg, changelog_dir=changelog,
                               buckets=16, sample=(3, None),
                               spark=spark)
            line = next(x for x in out
                        if x.get("rule") == "app:items")
            seen.append(line["sample"])
            assert out[-1]["sample_rotation"]["ran"] == line["sample"]
        assert seen == ["3:0", "3:1", "3:2", "3:0"]   # wraps
        state = _json.loads(
            (tmp_path / "log" / "_checksum_rotation.json").read_text())
        assert state == {"3": 1}
    finally:
        srv.stop()


def test_stat_serves_last_checksum_verdict(spark, tmp_path):
    """Operational loop closed: a --checksum run persists its verdict
    (_checksum_last.json, atomic) and /stat serves it as
    `last_verify` with its age -- an operator watching /stat sees
    WHEN the sink was last proven in sync, not just that rows flow."""
    import urllib.request

    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    from mysql_syncer_clickhouse_spark.streaming.pipeline import (
        SyncMetrics)
    from mysql_syncer_clickhouse_spark.streaming.status import (
        StatusServer)

    changelog = _write_items_changelog(spark, tmp_path)
    srv = _ChecksumFakeCH(list(_EXPECTED_SINK), _CHECKSUM_SCHEMA,
                          ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        run_checksum(cfg, changelog_dir=changelog, buckets=16,
                     spark=spark)
    finally:
        srv.stop()
    vf = os.path.join(cfg.data_dir, "_checksum_last.json")
    assert os.path.exists(vf)
    stat = StatusServer(SyncMetrics(), port=0, verify_file=vf).start()
    try:
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{stat.port}/stat", timeout=10).read()
        payload = json.loads(body)
        lv = payload["last_verify"]
        assert lv["rules"]["app:items"]["in_sync"] is True
        assert lv["out_of_sync"] == []
        assert lv["age_seconds"] >= 0
    finally:
        stat.stop()


# ----------------------------------------- duplicate grain (round 15)


def test_balanced_duplicates_suppressed_in_pk_grain(spark):
    """VERDICT r14 #1: duplicates with the SAME multiplicity and the
    SAME value multiset on both sides cannot have caused the bucket
    mismatch being drilled into -- the default pk grain must not
    report them, or a systematically non-unique pk makes the report
    scale with the TABLE (the x100 probe's 736k finding rows). The
    row grain keeps the exhaustive inventory."""
    # pk 1 duplicated IDENTICALLY on both sides (balanced); pk 2's
    # value drifted so the (single, n_buckets=1) bucket flags and the
    # drill-down admits everything
    src = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "x")], "id long, v string")
    dst = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "y")], "id long, v string")
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=1)
    assert not report["in_sync"]
    got = {(r["id"], r["status"]) for r in diff.collect()}
    assert got == {(2, "value_mismatch")}

    # the legacy row grain still lists the balanced duplicate per side
    _, diff_row = sv.sync_verify(src, dst, ["id"], n_buckets=1,
                                 dup_grain="row")
    got_row = {(r["id"], r["status"]) for r in diff_row.collect()}
    assert (1, "duplicate_pk_in_source") in got_row
    assert (1, "duplicate_pk_in_sink") in got_row
    assert (2, "value_mismatch") in got_row


def test_duplicate_multiset_swap_caught_at_equal_counts(spark):
    """Equal multiplicities but a different value multiset among the
    duplicates: count ties, but the per-pk xor/sum digest differs --
    the finding must surface even though the deterministic
    representatives (first row by full ordering) compare equal."""
    src = spark.createDataFrame(
        [(5, "a"), (5, "a"), (5, "b")], "id long, v string")
    dst = spark.createDataFrame(
        [(5, "a"), (5, "b"), (5, "b")], "id long, v string")
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=1)
    assert not report["in_sync"]
    rows = diff.collect()
    assert {(r["id"], r["status"]) for r in rows} == {
        (5, "duplicate_pk")}
    [(sc, dc)] = [(r["src_count"], r["dst_count"]) for r in rows]
    assert (sc, dc) == (3, 3)


def test_one_sided_duplicate_vs_absent_pk(spark):
    """A pk duplicated on one side and absent on the other reports
    BOTH facts: presence (missing/extra) and the duplicate state."""
    src = spark.createDataFrame(
        [(1, "a"), (9, "z"), (9, "z")], "id long, v string")
    dst = spark.createDataFrame([(1, "a")], "id long, v string")
    report, diff = sv.sync_verify(src, dst, ["id"], n_buckets=1)
    got = {(r["id"], r["status"]): (r["src_count"], r["dst_count"])
           for r in diff.collect()}
    # the presence finding carries the side's multiplicity too
    assert got[(9, "missing_in_sink")] == (2, None)
    assert got[(9, "duplicate_pk")] == (2, 0)
    assert len(got) == 2


def test_row_diff_rejects_unknown_dup_grain(spark):
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(ValueError, match="dup_grain"):
        sv.row_diff(df, df, ["id"], [0], 4, dup_grain="bogus")


def test_repair_optimize_is_engine_gated():
    """Duplicate findings end the plan with ONE executable OPTIMIZE
    TABLE ... FINAL -- but only when the engine's FINAL collapse is
    the sync contract (Replacing/Collapsing); a plain MergeTree or an
    unknown engine keeps the remedy manual (OPTIMIZE there merges
    parts without deduplicating)."""
    diff = [
        {"id": 500, "status": "duplicate_pk",
         "src_row": '{"id":500}', "dst_row": '{"id":500}',
         "src_count": 1, "dst_count": 2},
        {"id": 501, "status": "duplicate_pk",
         "src_row": None, "dst_row": '{"id":501}',
         "src_count": 0, "dst_count": 3},
    ]
    stmts = sv.repair_statements(diff, "olap", "t", ["id"],
                                 engine="ReplacingMergeTree")
    assert stmts[-1]["status"] == "optimize_table"
    assert stmts[-1]["statement"] == "OPTIMIZE TABLE `olap`.`t` FINAL"
    assert stmts[-1]["covers"] == 2
    assert all(s["statement"] is None
               for s in stmts if s["status"] == "duplicate_pk")

    for eng in (None, "MergeTree", "SummingMergeTree"):
        tail = sv.repair_statements(diff, "olap", "t", ["id"],
                                    engine=eng)[-1]
        assert tail["status"] == "optimize_table"
        assert tail["statement"] is None
        assert "manually" in tail["manual"]

    # no duplicates -> no optimize entry at all
    clean = sv.repair_statements(
        [{"id": 7, "status": "missing_in_sink",
          "src_row": '{"id":7}', "dst_row": None}],
        "olap", "t", ["id"], engine="ReplacingMergeTree")
    assert all(s["status"] != "optimize_table" for s in clean)


class _OptimizingFakeCH(_ChecksumFakeCH):
    """_ChecksumFakeCH plus OPTIMIZE ... FINAL: collapses the row
    store to the max-seq row per pk -- what a ReplacingMergeTree
    merge does -- so a duplicate-repair round trip is observable."""

    def _serve(self, query: str, body: bytes = b"") -> bytes:
        if query.lstrip().upper().startswith("OPTIMIZE"):
            with self._lock:
                self.writes.append(query)
                by_pk: dict = {}
                for r in self.rows:
                    key = tuple(r[c] for c in self.pk)
                    old = by_pk.get(key)
                    if old is None or r.get("seq", 0) >= \
                            old.get("seq", 0):
                        by_pk[key] = r
                self.rows[:] = list(by_pk.values())
            return b""
        return super()._serve(query, body)


def test_cli_checksum_repair_executes_optimize_for_duplicates(
        spark, tmp_path):
    """VERDICT r14 #5 end-to-end: planted duplicate -> --repair
    --execute routes OPTIMIZE TABLE ... FINAL through the transport
    (engine-gated) -> second checksum clean."""
    from mysql_syncer_clickhouse_spark.__main__ import run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    # pk 1 landed TWICE with identical values (a retried insert the
    # merge has not collapsed yet)
    dup_sink = [dict(r) for r in _EXPECTED_SINK] + \
        [dict(_EXPECTED_SINK[0])]
    srv = _OptimizingFakeCH(dup_sink, _CHECKSUM_SCHEMA, ["id"], 16)
    try:
        cfg = _checksum_cfg(tmp_path, srv.url)
        out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                           deep=True, repair=True, execute=True,
                           spark=spark)
        line = next(x for x in out if x.get("rule") == "app:items")
        assert line["in_sync"] is False
        assert {(d["id"], d["status"], d["src_count"], d["dst_count"])
                for d in line["diff"]} == {(1, "duplicate_pk", 1, 2)}
        tail = line["repair"][-1]
        assert tail["status"] == "optimize_table"
        assert tail["statement"] == (
            "OPTIMIZE TABLE `olap`.`items_sink` FINAL")
        assert any(w.startswith("OPTIMIZE") for w in srv.writes)
        # the executed collapse closed the divergence
        out2 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                            spark=spark)
        line2 = next(x for x in out2 if x.get("rule") == "app:items")
        assert line2["in_sync"] is True
    finally:
        srv.stop()


def test_cli_checksum_diff_truncation_reports_status_totals(
        spark, tmp_path):
    """The findings cap is explicit, never silent: a truncated diff
    carries diff_truncated=True AND the per-status totals of the FULL
    report, so the operator knows how much of each class was
    dropped."""
    from mysql_syncer_clickhouse_spark.__main__ import run, run_checksum
    changelog = _write_items_changelog(spark, tmp_path)
    cfg = _checksum_cfg(tmp_path, None)
    cfg.sink_addr = None
    run(cfg, changelog, spark=spark)            # drain to parquet
    # plant 5 ghost rows straight into the sink files
    sink_path = cfg.sink_dir(cfg.effective_rules(None).rules[0])
    spark.createDataFrame(
        [(90 + i, "insert", 900 + i, f"ghost{i}", 1)
         for i in range(5)],
        "seq long, op string, id long, es_title string, mydate long"
    ).coalesce(1).write.mode("append").parquet(sink_path)
    out = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                       deep=True, diff_limit=2, spark=spark)
    line = next(x for x in out if x.get("rule") == "app:items")
    assert line["diff_truncated"] is True
    assert len(line["diff"]) == 2
    assert line["diff_status_totals"] == {"extra_in_sink": 5}
    # under the cap: no totals block, marker says untruncated
    out2 = run_checksum(cfg, changelog_dir=changelog, buckets=16,
                        deep=True, diff_limit=100, spark=spark)
    line2 = next(x for x in out2 if x.get("rule") == "app:items")
    assert line2["diff_truncated"] is False
    assert "diff_status_totals" not in line2
    assert len(line2["diff"]) == 5
