"""pg wire front-end: a raw-socket v3-protocol client (no pg driver in the
container) runs the startup handshake and simple queries end-to-end."""

from __future__ import annotations

import socket
import struct

import pytest

from sydradb_spark.compat.wire import PgWireServer
from sydradb_spark.sydraql.engine import SydraQLEngine


def _recv_exact(sock, n):
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        assert chunk, "server closed early"
        buf += chunk
    return buf


def _read_msg(sock):
    tag = _recv_exact(sock, 1)
    (length,) = struct.unpack("!I", _recv_exact(sock, 4))
    return tag, _recv_exact(sock, length - 4)


def _connect(addr):
    sock = socket.create_connection(addr, timeout=30)
    params = b"user\x00test\x00database\x00sydra\x00\x00"
    body = struct.pack("!I", 196608) + params
    sock.sendall(struct.pack("!I", len(body) + 4) + body)
    msgs = []
    while True:
        tag, payload = _read_msg(sock)
        msgs.append((tag, payload))
        if tag == b"Z":
            break
    assert msgs[0][0] == b"R" and struct.unpack("!I", msgs[0][1])[0] == 0  # AuthOk
    return sock


def _simple_query(sock, sql):
    payload = sql.encode() + b"\x00"
    sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
    cols, rows, err = None, [], None
    while True:
        tag, payload = _read_msg(sock)
        if tag == b"T":
            (n,) = struct.unpack("!H", payload[:2])
            cols, off = [], 2
            for _ in range(n):
                end = payload.index(b"\x00", off)
                name = payload[off:end].decode()
                off = end + 1 + 18  # fixed-size field descriptor
                cols.append(name)
        elif tag == b"D":
            (n,) = struct.unpack("!H", payload[:2])
            off, vals = 2, []
            for _ in range(n):
                (ln,) = struct.unpack("!i", payload[off : off + 4])
                off += 4
                if ln == -1:
                    vals.append(None)
                else:
                    vals.append(payload[off : off + ln].decode())
                    off += ln
            rows.append(vals)
        elif tag == b"E":
            fields = {}
            for part in payload.split(b"\x00"):
                if part:
                    fields[chr(part[0])] = part[1:].decode()
            err = fields
        elif tag == b"Z":
            return cols, rows, err


@pytest.fixture(scope="module")
def wire(spark, points):
    server = PgWireServer(SydraQLEngine(spark, points)).start()
    yield server
    server.stop()


def test_pgwire_select_roundtrip(wire):
    sock = _connect(wire.addr)
    cols, rows, err = _simple_query(
        sock,
        "SELECT time, value FROM cpu.total WHERE time >= 1000000 AND time < 1000060",
    )
    assert err is None
    assert cols == ["time", "value"]
    assert len(rows) == 5  # 15s cadence + the duplicate at ts=1000000
    assert rows[0][0] == "1000000"
    assert float(rows[0][1]) in (50.0, 100.0)
    # second query on the same connection (ReadyForQuery cycling works)
    cols2, rows2, err2 = _simple_query(sock, "SELECT 1 AS one")
    assert err2 is None and cols2 == ["one"] and rows2 == [["1"]]
    sock.sendall(b"X" + struct.pack("!I", 4))
    sock.close()


def test_pgwire_error_path(wire):
    sock = _connect(wire.addr)
    _, _, err = _simple_query(sock, "SELECT * FROM nope nope nope")
    assert err is not None and err["S"] == "ERROR"
    # connection survives the error
    _, rows, err2 = _simple_query(sock, "SELECT 1")
    assert err2 is None and rows == [["1"]]
    sock.close()


def test_pgwire_ssl_refused_then_ok(wire):
    sock = socket.create_connection(wire.addr, timeout=30)
    sock.sendall(struct.pack("!II", 8, 80877103))  # SSLRequest
    assert _recv_exact(sock, 1) == b"N"
    params = b"user\x00t\x00\x00"
    body = struct.pack("!I", 196608) + params
    sock.sendall(struct.pack("!I", len(body) + 4) + body)
    tag, _ = _read_msg(sock)
    assert tag == b"R"
    sock.close()


def _parse_message(sock, sql, n_params=0, truncate=False):
    """Send Parse ('P') + Sync and read to ReadyForQuery; returns the error
    fields (None on ParseComplete)."""
    body = b"\x00" + sql.encode() + b"\x00" + struct.pack("!H", n_params)
    if truncate:
        body = body[:-1]
    sock.sendall(b"P" + struct.pack("!I", len(body) + 4) + body)
    sock.sendall(b"S" + struct.pack("!I", 4))
    err = None
    while True:
        tag, payload = _read_msg(sock)
        if tag == b"E":
            fields = {}
            for part in payload.split(b"\x00"):
                if part:
                    fields[chr(part[0])] = part[1:].decode()
            err = fields
        elif tag == b"Z":
            return err


def test_pgwire_parse_message_responses(wire):
    """Parse ('P'): translatable SQL → ParseComplete (beyond the reference's
    0A000 — the extended protocol is implemented here); untranslatable SQL →
    the translator's sqlstate AT PARSE TIME (the reference's targeted-error
    spirit); malformed frame → 08P01. Connection survives all of it."""
    sock = _connect(wire.addr)
    err = _parse_message(sock, "SELECT value FROM cpu.total WHERE time > 0")
    assert err is None  # ParseComplete, no error
    err2 = _parse_message(sock, "CREATE TABLE nope (x int)")
    assert err2 is not None and err2["C"] == "0A000"
    err3 = _parse_message(sock, "SELECT 1", truncate=True)
    assert err3 is not None and err3["C"] == "08P01"
    # simple query still works on the same connection afterwards
    _, rows, err4 = _simple_query(sock, "SELECT 1")
    assert err4 is None and rows == [["1"]]
    sock.close()


def test_pgwire_concurrent_connections(wire):
    """Four clients at once: the threaded server answers all of them and
    no connection sees another's frames (read path is thread-safe — lazy
    translate + Spark's thread-safe actions)."""
    import threading

    results = []

    def worker():
        sock = _connect(wire.addr)
        try:
            _, rows, err = _simple_query(sock, "SELECT 1")
            results.append((rows, err))
        finally:
            sock.close()

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert len(results) == 4
    assert all(err is None and rows == [["1"]] for rows, err in results)


def _query_with_notices(sock, sql):
    """Like _simple_query but also collects NoticeResponse ('N') messages."""
    payload = sql.encode() + b"\x00"
    sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
    notices, err, n_rows = [], None, 0
    while True:
        tag, payload = _read_msg(sock)
        if tag == b"N":
            fields = {}
            for part in payload.split(b"\x00"):
                if part:
                    fields[chr(part[0])] = part[1:].decode()
            notices.append(fields)
        elif tag == b"D":
            n_rows += 1
        elif tag == b"E":
            err = payload
        elif tag == b"Z":
            return notices, n_rows, err


def test_pgwire_notice_diagnostics(wire):
    """Reference parity (compat/wire/server.zig:295-312): after the DataRows
    a SELECT emits NoticeResponse diagnostics — schema, trace_id, one line
    per operator, then a metrics summary — and psql-visible severity is
    NOTICE."""
    sock = _connect(wire.addr)
    notices, n_rows, err = _query_with_notices(
        sock,
        "SELECT time, value FROM cpu.total WHERE time >= 1000000 AND time < 1000060",
    )
    assert err is None and n_rows == 5
    assert all(n["S"] == "NOTICE" for n in notices)
    msgs = [n["M"] for n in notices]
    assert msgs[0].startswith("schema=[")
    assert '{name:"time",type:"bigint",nullable:true}' in msgs[0]
    assert '{name:"value",type:"double",nullable:true}' in msgs[0]
    assert msgs[1].startswith("trace_id=") and len(msgs[1]) > len("trace_id=")
    ops = [m for m in msgs if m.startswith("operator=")]
    assert ops, "expected per-operator notices"
    assert all(" rows_out=" in m and " elapsed_ms=" in m for m in ops)
    # at least one scan leaf surfaced from the executed plan
    assert any("scan" in m.lower() for m in ops)
    metrics_line = msgs[-1]
    assert metrics_line.startswith("metrics rows=5 scanned=")
    assert " stream_ms=" in metrics_line and " plan_ms=" in metrics_line
    # the catalog path stays notice-free (reference serves it from the
    # snapshot executor, not the query cursor)
    notices2, _, err2 = _query_with_notices(
        sock, "SELECT count(*) FROM pg_catalog.pg_class"
    )
    assert err2 is None and notices2 == []
    sock.close()


def test_pgwire_truncation_noticed(engine):
    """A result longer than ``max_rows`` is cut at ``max_rows``, and the cut
    is said: one NoticeResponse ``truncated: ...`` right before the
    CommandComplete of the simple query, the extended protocol's Execute
    and COPY TO STDOUT. A result that fits sends none."""
    server = PgWireServer(engine, max_rows=5).start()
    try:
        sock = _connect(server.addr)
        sql = "SELECT time, value FROM cpu.total WHERE time >= 1000000 AND time < 1000300"
        cut = "truncated: result has more than 5 rows"
        notices, n_rows, err = _query_with_notices(sock, sql)
        assert err is None and n_rows == 5
        assert [n["M"] for n in notices][-1] == cut
        notices, _, err = _query_with_notices(sock, f"COPY ({sql}) TO STDOUT")
        assert err is None and [n["M"] for n in notices] == [cut]
        data, complete, err = _copy_out(sock, f"COPY ({sql}) TO STDOUT")
        assert err is None and complete == "COPY 5" and data.count(b"\n") == 5
        _send(sock, b"P", b"st\x00" + sql.encode() + b"\x00" + struct.pack("!H", 0))
        _ext_bind(sock, portal=b"pt", stmt=b"st")
        _send(sock, b"E", b"pt\x00" + struct.pack("!i", 0))
        sock.sendall(b"S" + struct.pack("!I", 4))
        msgs = _drain_to_ready(sock)
        assert b"".join(t for t, _ in msgs) == b"12DDDDDNCZ", msgs
        assert cut.encode() in msgs[-3][1] and msgs[-2][1] == b"SELECT 5\x00"
        # a result that fits: no cut notice
        notices, n_rows, err = _query_with_notices(
            sock, sql.replace("1000300", "1000060")
        )
        assert err is None and n_rows == 5
        assert not any(n["M"].startswith("truncated") for n in notices)
        sock.close()
    finally:
        server.stop()


def _send(sock, tag, body):
    sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)


def _ext_bind(sock, portal=b"", stmt=b"", params=()):
    body = portal + b"\x00" + stmt + b"\x00"
    body += struct.pack("!H", 0)  # all-text param formats
    body += struct.pack("!H", len(params))
    for p in params:
        if p is None:
            body += struct.pack("!i", -1)
        else:
            body += struct.pack("!I", len(p)) + p
    body += struct.pack("!H", 0)  # all-text result formats
    _send(sock, b"B", body)


def _drain_to_ready(sock):
    msgs = []
    while True:
        tag, payload = _read_msg(sock)
        msgs.append((tag, payload))
        if tag == b"Z":
            return msgs


def test_pgwire_extended_protocol_roundtrip(wire):
    """Full extended-protocol cycle (beyond the reference): Parse named
    statement with a $1 parameter -> Bind twice with different values ->
    Describe portal -> Execute -> Close -> Sync. This is the message flow
    psycopg3/JDBC default connections use."""
    sock = _connect(wire.addr)
    sql = b"SELECT time, value FROM cpu.total WHERE time >= $1 AND time < 1000060"
    _send(sock, b"P", b"s1\x00" + sql + b"\x00" + struct.pack("!H", 0))
    _ext_bind(sock, portal=b"p1", stmt=b"s1", params=[b"1000000"])
    _send(sock, b"D", b"P" + b"p1\x00")
    _send(sock, b"E", b"p1\x00" + struct.pack("!i", 0))
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    tags = [t for t, _ in msgs]
    assert tags[0] == b"1"  # ParseComplete
    assert tags[1] == b"2"  # BindComplete
    assert tags[2] == b"T"  # RowDescription from Describe
    n_rows = tags.count(b"D")
    assert n_rows == 5  # same rowset as the simple-query test
    complete = [p for t, p in msgs if t == b"C"]
    assert complete == [b"SELECT 5\x00"]
    assert b"E" not in tags

    # rebind the SAME statement with a different parameter → 3 rows
    _ext_bind(sock, portal=b"p2", stmt=b"s1", params=[b"1000015"])
    _send(sock, b"E", b"p2\x00" + struct.pack("!i", 0))
    _send(sock, b"C", b"S" + b"s1\x00")  # Close statement
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs2 = _drain_to_ready(sock)
    tags2 = [t for t, _ in msgs2]
    assert tags2[0] == b"2" and tags2.count(b"D") == 3
    assert b"3" in tags2  # CloseComplete
    # statement gone now: Bind → 26000, then skip-to-Sync
    _ext_bind(sock, portal=b"p3", stmt=b"s1", params=[b"0"])
    _send(sock, b"E", b"p3\x00" + struct.pack("!i", 0))  # must be skipped
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs3 = _drain_to_ready(sock)
    errs = [p for t, p in msgs3 if t == b"E"]
    assert len(errs) == 1 and b"26000" in errs[0]
    assert [t for t, _ in msgs3].count(b"D") == 0  # Execute was discarded
    sock.close()


def test_pgwire_extended_string_param_and_catalog(wire):
    """String parameters are quoted into literals; catalog introspection
    works through the extended path too (drivers probe pg_type via
    Parse/Bind/Execute)."""
    sock = _connect(wire.addr)
    # unnamed statement + portal, string param used in a projection
    _send(
        sock,
        b"P",
        b"\x00SELECT $1 AS label\x00" + struct.pack("!H", 0),
    )
    _ext_bind(sock, params=[b"it's text"])
    _send(sock, b"D", b"P" + b"\x00")
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    rows = [p for t, p in msgs if t == b"D"]
    assert len(rows) == 1 and b"it's text" in rows[0]

    # catalog probe through extended protocol
    _send(
        sock,
        b"P",
        b"\x00SELECT typname FROM pg_catalog.pg_type WHERE oid = $1\x00"
        + struct.pack("!H", 0),
    )
    _ext_bind(sock, params=[b"25"])
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs2 = _drain_to_ready(sock)
    rows2 = [p for t, p in msgs2 if t == b"D"]
    assert len(rows2) == 1 and b"text" in rows2[0]
    sock.close()


def _ext_bind_fmt(sock, portal=b"", stmt=b"", params=(), pfmts=(), rfmts=()):
    """Bind with explicit per-parameter format codes and result formats."""
    body = portal + b"\x00" + stmt + b"\x00"
    body += struct.pack("!H", len(pfmts))
    for f in pfmts:
        body += struct.pack("!H", f)
    body += struct.pack("!H", len(params))
    for p in params:
        if p is None:
            body += struct.pack("!i", -1)
        else:
            body += struct.pack("!I", len(p)) + p
    body += struct.pack("!H", len(rfmts))
    for f in rfmts:
        body += struct.pack("!H", f)
    _send(sock, b"B", body)


def test_pgwire_binary_protocol_roundtrip(wire):
    """psycopg3-style binary flow (r8 verdict item 5): Parse declares the
    parameter OID, Bind sends the value in BINARY format with binary
    result formats requested, Describe reports format code 1, and DataRow
    values come back as wire-order int8/float8 — decoded here with the
    exact struct layouts a binary-mode pg client uses."""
    sock = _connect(wire.addr)
    # Parse with one declared int8 ($1 → OID 20)
    sql = b"SELECT time, value FROM cpu.total WHERE time >= $1 AND time < 1000060"
    _send(
        sock,
        b"P",
        b"sb\x00" + sql + b"\x00" + struct.pack("!H", 1) + struct.pack("!I", 20),
    )
    # Describe(S): ParameterDescription must echo the declared OID
    _send(sock, b"D", b"S" + b"sb\x00")
    # Bind: binary int8 parameter 1000000, all-binary results
    _ext_bind_fmt(
        sock,
        portal=b"pb",
        stmt=b"sb",
        params=[struct.pack("!q", 1_000_000)],
        pfmts=(1,),
        rfmts=(1,),
    )
    _send(sock, b"D", b"P" + b"pb\x00")
    _send(sock, b"E", b"pb\x00" + struct.pack("!i", 0))
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    tags = [t for t, _ in msgs]
    assert b"E" not in tags, msgs
    # ParameterDescription: one param, OID 20
    pdesc = [p for t, p in msgs if t == b"t"][0]
    assert struct.unpack("!HI", pdesc) == (1, 20)
    # RowDescription from the portal describe carries format code 1
    rowdesc = [p for t, p in msgs if t == b"T"][-1]
    (ncols,) = struct.unpack("!H", rowdesc[:2])
    assert ncols == 2
    off = 2
    for _ in range(ncols):
        end = rowdesc.index(b"\x00", off)
        tab, col, oid, sz, mod, fmt = struct.unpack(
            "!IHIhih", rowdesc[end + 1 : end + 19]
        )
        assert fmt == 1
        off = end + 19
    # DataRows: (int8 ts, float8 value) in network byte order
    rows = []
    for t, p in msgs:
        if t != b"D":
            continue
        (nv,) = struct.unpack("!H", p[:2])
        assert nv == 2
        o = 2
        vals = []
        for _ in range(nv):
            (ln,) = struct.unpack("!i", p[o : o + 4])
            o += 4
            vals.append(p[o : o + ln])
            o += ln
        rows.append((struct.unpack("!q", vals[0])[0], struct.unpack("!d", vals[1])[0]))
    assert len(rows) == 5
    assert rows[0] == (1_000_000, 50.0) or rows[0] == (1_000_000, 100.0)
    assert {ts for ts, _ in rows} == {1_000_000, 1_000_015, 1_000_030, 1_000_045}

    # binary param WITHOUT a declared OID → 0A000, session skips to Sync
    _send(sock, b"P", b"su\x00" + sql + b"\x00" + struct.pack("!H", 0))
    _ext_bind_fmt(
        sock, portal=b"pu", stmt=b"su",
        params=[struct.pack("!q", 1)], pfmts=(1,), rfmts=(),
    )
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs2 = _drain_to_ready(sock)
    errs = [p for t, p in msgs2 if t == b"E"]
    assert len(errs) == 1 and b"0A000" in errs[0]
    sock.close()


def test_pgwire_binary_float_and_text_params(wire):
    """float8 and text binary parameters decode through the declared OIDs;
    text results stay utf8 under binary format (same bytes either way)."""
    sock = _connect(wire.addr)
    sql = b"SELECT $1 AS a, $2 AS b"
    _send(
        sock,
        b"P",
        b"\x00" + sql + b"\x00" + struct.pack("!HII", 2, 701, 25),
    )
    _ext_bind_fmt(
        sock,
        params=[struct.pack("!d", 2.5), b"hi there"],
        pfmts=(1, 1),
        rfmts=(1,),
    )
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    assert not [p for t, p in msgs if t == b"E"], msgs
    row = [p for t, p in msgs if t == b"D"][0]
    (nv,) = struct.unpack("!H", row[:2])
    o, vals = 2, []
    for _ in range(nv):
        (ln,) = struct.unpack("!i", row[o : o + 4])
        o += 4
        vals.append(row[o : o + ln])
        o += ln
    assert struct.unpack("!d", vals[0])[0] == 2.5
    assert vals[1] == b"hi there"
    sock.close()


def test_pgwire_explain_passthrough(wire):
    """EXPLAIN SELECT through the wire: the translator re-prefixes the
    translated inner statement and the engine answers with the formatted
    Spark plan (beyond the reference translator, which has no EXPLAIN)."""
    sock = _connect(wire.addr)
    cols, rows, err = _simple_query(
        sock,
        "EXPLAIN SELECT value FROM cpu.total WHERE time >= 1000000 AND time < 1000060",
    )
    assert err is None and cols == ["plan"]
    plan_text = "\n".join(r[0] for r in rows if r[0])
    assert "Physical Plan" in plan_text or "Scan" in plan_text
    # untranslatable inner statements keep their fallback sqlstate
    _, _, err2 = _simple_query(sock, "EXPLAIN UPDATE t SET x = 1")
    assert err2 is not None and err2["C"] == "0A000"
    sock.close()


def test_pgwire_describe_statement(wire):
    """Describe('S'): ParameterDescription always; a parameter-less
    statement also gets a real RowDescription (the JDBC
    Parse->Describe(S)->Bind->Execute flow builds result metadata from it),
    a parameterized one answers NoData."""
    sock = _connect(wire.addr)
    _send(sock, b"P", b"d0\x00SELECT 1 AS one\x00" + struct.pack("!H", 0))
    _send(sock, b"D", b"S" + b"d0\x00")
    _send(
        sock,
        b"P",
        b"d1\x00SELECT value FROM cpu.total WHERE time >= $1 AND time < $2\x00"
        + struct.pack("!H", 0),
    )
    _send(sock, b"D", b"S" + b"d1\x00")
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    tags = [t for t, _ in msgs]
    # d0: ParseComplete, ParamDesc(0), RowDescription
    # d1: ParseComplete, ParamDesc(2), NoData
    assert tags == [b"1", b"t", b"T", b"1", b"t", b"n", b"Z"]
    pd0, pd1 = [p for t, p in msgs if t == b"t"]
    assert struct.unpack("!H", pd0[:2])[0] == 0
    assert struct.unpack("!H", pd1[:2])[0] == 2
    rowdesc = [p for t, p in msgs if t == b"T"][0]
    assert b"one" in rowdesc
    sock.close()


def test_pgwire_portal_exhaustion(wire):
    """Re-Executing a completed portal answers an empty completion, not a
    replay of the rowset (protocol: a portal's rows are consumed once)."""
    sock = _connect(wire.addr)
    _send(sock, b"P", b"\x00SELECT 1 AS one\x00" + struct.pack("!H", 0))
    _ext_bind(sock)
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))
    _send(sock, b"E", b"\x00" + struct.pack("!i", 0))  # re-execute
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    tags = [t for t, _ in msgs]
    assert tags.count(b"D") == 1  # the row came back exactly once
    completes = [p for t, p in msgs if t == b"C"]
    assert completes == [b"SELECT 1\x00", b"SELECT 0\x00"]
    sock.close()


def _copy_in(sock, sql, data_chunks, fail=None):
    payload = sql.encode() + b"\x00"
    sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
    tag, pl = _read_msg(sock)
    if tag == b"E":  # error before copy mode
        # drain to ReadyForQuery
        while tag != b"Z":
            tag, pl = _read_msg(sock)
        return None, pl
    assert tag == b"G", f"expected CopyInResponse, got {tag!r}"
    for chunk in data_chunks:
        sock.sendall(b"d" + struct.pack("!I", len(chunk) + 4) + chunk)
    if fail is not None:
        body = fail.encode() + b"\x00"
        sock.sendall(b"f" + struct.pack("!I", len(body) + 4) + body)
    else:
        sock.sendall(b"c" + struct.pack("!I", 4))
    tags = {}
    while True:
        tag, pl = _read_msg(sock)
        tags[tag] = pl
        if tag == b"Z":
            return tags, None


def test_pgwire_copy_from_stdin(wire):
    sock = _connect(sock_addr := wire.addr)
    # csv format, explicit columns, split across two CopyData messages
    tags, _ = _copy_in(
        sock,
        "COPY copytest.series (time, value) FROM STDIN WITH (FORMAT csv)",
        [b"5000,1.5\n5060,", b"2.5\n5120,3.5\n"],
    )
    assert b"C" in tags and tags[b"C"].rstrip(b"\x00") == b"COPY 3"
    cols, rows, err = _simple_query(
        sock, "SELECT time, value FROM copytest.series WHERE time >= 0 ORDER BY time"
    )
    assert err is None
    assert [(r[0], float(r[1])) for r in rows] == [
        ("5000", 1.5), ("5060", 2.5), ("5120", 3.5),
    ]
    # text format (tab separator), default columns
    tags, _ = _copy_in(
        sock, "COPY copytest.series FROM STDIN", [b"6000\t9.0\n"]
    )
    assert tags[b"C"].rstrip(b"\x00") == b"COPY 1"
    # CopyFail aborts with an error, connection stays usable
    tags, _ = _copy_in(
        sock, "COPY copytest.series FROM STDIN", [b"7000\t1.0\n"], fail="client abort"
    )
    assert b"E" in tags
    cols, rows, err = _simple_query(
        sock, "SELECT count() AS n FROM copytest.series WHERE time >= 0"
    )
    assert err is None and rows == [["4"]]  # 3 csv + 1 text, aborted row absent
    # malformed row: column count mismatch → error, no partial ingest
    tags, _ = _copy_in(
        sock, "COPY copytest.series FROM STDIN (FORMAT csv)", [b"1,2,3\n"]
    )
    assert b"E" in tags
    sock.sendall(b"X" + struct.pack("!I", 4))
    sock.close()


def _copy_out(sock, sql):
    payload = sql.encode() + b"\x00"
    sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
    data, complete, err = b"", None, None
    while True:
        tag, pl = _read_msg(sock)
        if tag == b"d":
            data += pl
        elif tag == b"C":
            complete = pl.rstrip(b"\x00").decode()
        elif tag == b"E":
            err = pl
        elif tag == b"Z":
            return data, complete, err


def test_pgwire_copy_to_stdout(wire):
    sock = _connect(wire.addr)
    # load a couple rows first
    _copy_in(
        sock,
        "COPY copyout.series (time, value) FROM STDIN WITH (FORMAT csv)",
        [b"100,1.5\n200,2.5\n"],
    )
    data, complete, err = _copy_out(
        sock, "COPY copyout.series (time, value) TO STDOUT WITH (FORMAT csv)"
    )
    assert err is None and complete == "COPY 2"
    assert sorted(data.decode().strip().split("\n")) == ["100,1.5", "200,2.5"]
    # text format + inner-select form
    data, complete, err = _copy_out(
        sock,
        "COPY (SELECT time, value FROM copyout.series WHERE time >= 150) TO STDOUT",
    )
    assert err is None and complete == "COPY 1"
    assert data.decode() == "200\t2.5\n"
    sock.sendall(b"X" + struct.pack("!I", 4))
    sock.close()


def test_pgwire_execute_row_limit_portal_suspended(wire):
    """Execute's int32 row limit pages the portal: each limited Execute
    delivers that many rows then PortalSuspended ('s'); the next Execute
    resumes from the cached position; the final one answers
    CommandComplete with THIS run's row count (pg nprocessed semantics).
    This is the JDBC setFetchSize / psycopg3 server-side-cursor loop."""
    sock = _connect(wire.addr)
    sql = b"SELECT time, value FROM cpu.total WHERE time >= 1000000 AND time < 1000060"
    _send(sock, b"P", b"s1\x00" + sql + b"\x00" + struct.pack("!H", 0))
    _ext_bind(sock, portal=b"pp", stmt=b"s1")
    _send(sock, b"E", b"pp\x00" + struct.pack("!i", 2))  # rows 1-2
    _send(sock, b"E", b"pp\x00" + struct.pack("!i", 2))  # rows 3-4
    _send(sock, b"E", b"pp\x00" + struct.pack("!i", 0))  # row 5, complete
    _send(sock, b"E", b"pp\x00" + struct.pack("!i", 5))  # done: SELECT 0
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    tags = b"".join(t for t, _ in msgs)
    assert b"E" not in tags, msgs
    # Parse, Bind, then 2 rows + suspend, 2 rows + suspend, 1 row +
    # complete, empty complete, ReadyForQuery
    assert tags == b"12DDsDDsDCCZ", msgs
    complete = [p for t, p in msgs if t == b"C"]
    assert complete == [b"SELECT 1\x00", b"SELECT 0\x00"]
    sock.close()


def test_pgwire_execute_truncated_limit_is_protocol_error(wire):
    """An Execute frame missing the mandatory int32 row-limit field is a
    protocol violation (08P01), not an implicit limit=0."""
    sock = _connect(wire.addr)
    sql = b"SELECT time FROM cpu.total WHERE time >= 1000000 AND time < 1000060"
    _send(sock, b"P", b"s1\x00" + sql + b"\x00" + struct.pack("!H", 0))
    _ext_bind(sock, portal=b"pt", stmt=b"s1")
    _send(sock, b"E", b"pt\x00")  # portal name only — limit int32 missing
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs = _drain_to_ready(sock)
    errs = [p for t, p in msgs if t == b"E"]
    assert len(errs) == 1
    assert b"08P01" in errs[0]
    # the connection survives: the same portal executes fine afterwards
    _send(sock, b"E", b"pt\x00" + struct.pack("!i", 0))
    sock.sendall(b"S" + struct.pack("!I", 4))
    msgs2 = _drain_to_ready(sock)
    tags2 = b"".join(t for t, _ in msgs2)
    assert b"E" not in tags2 and b"C" in tags2, msgs2
    sock.close()


def test_pgwire_startup_length_bounds(wire):
    """r14 wire review: the startup path trusted the client's length field —
    0xFFFFFFFF asked _recv_exact for ~4 GiB, < 8 underflowed. Both now
    close the connection instead."""
    for raw in (struct.pack("!I", 0xFFFFFFFF), struct.pack("!I", 3)):
        sock = socket.create_connection(wire.addr, timeout=30)
        try:
            sock.sendall(raw)
            sock.settimeout(10)
            # server must drop the connection without an auth handshake
            assert sock.recv(1) == b""
        finally:
            sock.close()


def test_pgwire_copy_cap_drains_and_errors(wire, monkeypatch):
    """r14 wire review: CopyData accumulation is capped; an over-cap load
    errors WITHOUT desyncing framing (the stream drains to CopyDone and
    the session stays usable)."""
    import sydradb_spark.compat.wire as wmod

    monkeypatch.setattr(wmod, "_MAX_COPY", 64)  # tiny cap for the test
    sock = _connect(wire.addr)
    tags, _ = _copy_in(
        sock,
        "COPY copycap.series FROM STDIN",
        [b"1000\t1.0\n" * 4, b"2000\t2.0\n" * 4],  # 88 bytes > 64
    )
    assert b"E" in tags and b"exceeds" in tags[b"E"]
    # framing survived: the same connection still answers queries
    cols, rows, err = _simple_query(
        sock, "SELECT count() AS n FROM copycap.series WHERE time >= 0"
    )
    assert err is None and rows == [["0"]]  # nothing ingested
    sock.close()
