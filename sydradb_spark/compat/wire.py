"""PostgreSQL v3 wire-protocol front-end (simple + extended query).

The reference serves pg clients over a socket (src/sydra/compat/wire/
server.zig:249-429, session.zig:75-140): startup handshake → AuthenticationOk
→ simple 'Q' queries answered with RowDescription / DataRow / CommandComplete;
extended-protocol messages get targeted 0A000 errors (server.zig:184-247).
This front-end goes BEYOND the reference there: Parse/Bind/Describe/Execute/
Close/Flush/Sync are implemented (text format, $N parameters substituted as
literals), so psycopg3- and JDBC-default connections — which always use the
extended protocol — work against the same translator + engine path as psql.
Auth and TLS stay out of scope like the reference (TLS requests answered 'N').

Extended-protocol semantics notes:
- Statements are prepared per connection; portals bind text- OR binary-
  format parameters ($N → quoted/numeric literal; binary values decoded
  via the parameter OIDs declared in Parse — int2/int4/int8, float4/
  float8, bool, text; an undeclared OID with a binary value is 0A000).
- A portal's statement runs ONCE (at Describe or Execute, whichever comes
  first) and the result is cached on the portal — a Describe of an INSERT
  portal therefore executes it early rather than twice; within one Sync
  batch a client cannot observe the difference.
- Execute answers with the same response content as the simple-query path
  (summary rows for INSERT/DELETE, SELECT command tags) — consistency with
  'Q' beats byte-exact pg command tags for this compat shim.
- Execute honors the protocol's int32 row limit: a positive limit delivers
  that many rows and suspends the portal (PortalSuspended); the next
  Execute resumes from the cached position. JDBC setFetchSize paging.
- After an error the session skips messages until Sync, per protocol.

Production posture: this front-end is a thin driver-side shim for pg-client
compatibility (psql, BI tools poking at results). Heavy concurrent SQL
traffic belongs on Spark Connect / Thrift; DEPLOY.md states the split.

Results honor the Bind message's result-format codes: text (0) always,
and binary (1) for the engine's output types (int8/float8/bool wire
encodings; text types pass utf8 either way) — psycopg3's binary=True
cursors and JDBC's binary transfer mode work unmodified.
"""

from __future__ import annotations

import re
import socket
import socketserver
import struct
import threading
from typing import Any

# pg type OIDs for the engine's output types (pg_type.dat, public catalog)
_OID_INT8 = 20
_OID_FLOAT8 = 701
_OID_TEXT = 25
_OID_BOOL = 16

_SSL_REQUEST = 80877103
_CANCEL_REQUEST = 80877102
_MAX_MESSAGE = 16 * 1024 * 1024  # server.zig:15 max_message_size
# total CopyData accumulation cap: each message is bounded by _MAX_MESSAGE
# but a client could stream CopyData forever into driver memory (r14 wire
# review); bulk loads beyond this belong on the Structured Streaming path
_MAX_COPY = 64 * 1024 * 1024


def _oid_for(spark_type: str) -> int:
    if spark_type in ("bigint", "int", "smallint", "tinyint", "long"):
        return _OID_INT8
    if spark_type in ("double", "float", "decimal"):
        return _OID_FLOAT8
    if spark_type == "boolean":
        return _OID_BOOL
    return _OID_TEXT


def _encode(value: Any) -> bytes | None:
    if value is None:
        return None
    if isinstance(value, bool):
        return b"t" if value else b"f"
    if isinstance(value, float):
        return repr(value).encode()
    return str(value).encode()


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _error_response(message: str, sqlstate: str = "42601") -> bytes:
    fields = (
        b"S" + b"ERROR\x00"
        + b"C" + sqlstate.encode() + b"\x00"
        + b"M" + message.encode() + b"\x00"
        + b"\x00"
    )
    return _msg(b"E", fields)


def _notice_response(message: str) -> bytes:
    """NoticeResponse carrying one diagnostic line, exactly the reference's
    field layout (compat/wire/protocol.zig:203-218: S=NOTICE, M=message)."""
    return _msg(b"N", b"S" + b"NOTICE\x00" + b"M" + message.encode() + b"\x00" + b"\x00")


def _cap(rows: list, max_rows: int) -> tuple[list, bytes]:
    """The first ``max_rows`` of ``rows``, collected from a frame limited to
    ``max_rows + 1`` so that a cut is detected, not guessed, plus the
    NoticeResponse a cut sends before CommandComplete (b"" for none)."""
    if len(rows) <= max_rows:
        return rows, b""
    return rows[:max_rows], _notice_response(
        f"truncated: result has more than {max_rows} rows"
    )


def _diagnostic_notices(
    fields: list[tuple[str, str]],
    result_stats: dict,
    operators: list[dict],
    rows_emitted: int,
    stream_ms: int,
    trace_id: str,
) -> list[bytes]:
    """The reference's post-row diagnostics (compat/wire/server.zig:281-312):
    schema, trace_id, one line per operator, then the metrics summary —
    psql shows them after the rows, so a user debugging through psql gets
    the same per-operator visibility the HTTP stats block carries. Operator
    stats come from the executed Spark plan (api._plan_stats) instead of
    Volcano cursor counters; rows_scanned sums the scan leaves' output like
    the reference sums its `scan` operators (server.zig:283-287)."""
    out = []
    if fields:
        cols = ", ".join(
            '{name:"%s",type:"%s",nullable:true}' % (n, t) for n, t in fields
        )
        out.append(_notice_response(f"schema=[{cols}]"))
    if trace_id:
        out.append(_notice_response(f"trace_id={trace_id}"))
    rows_scanned = 0
    for op in operators:
        name = str(op.get("name", ""))
        rows_out = op.get("rows_out") or 0
        if "scan" in name.lower():
            rows_scanned += int(rows_out)
        elapsed_ms = int(op.get("elapsed_ms") or 0)
        out.append(
            _notice_response(
                f"operator={name} rows_out={rows_out} elapsed_ms={elapsed_ms}"
            )
        )
    plan_us = sum(
        int(result_stats.get(k, 0)) for k in ("parse_us", "validate_us", "plan_us")
    )
    out.append(
        _notice_response(
            f"metrics rows={rows_emitted} scanned={rows_scanned} "
            f"stream_ms={stream_ms} plan_ms={plan_us // 1000}"
        )
    )
    return out


def _fmt_for(i: int, rfmts: tuple[int, ...] | None) -> int:
    """Result-format code for column i under the Bind message's rules:
    no codes → all text; one code → applies to every column; else
    per-column."""
    if not rfmts:
        return 0
    return rfmts[0] if len(rfmts) == 1 else rfmts[i]


def _row_description(
    fields: list[tuple[str, str]], rfmts: tuple[int, ...] | None = None
) -> bytes:
    out = struct.pack("!H", len(fields))
    for i, (name, spark_type) in enumerate(fields):
        out += (
            name.encode()
            + b"\x00"
            + struct.pack(
                "!IHIhih", 0, 0, _oid_for(spark_type), -1, -1, _fmt_for(i, rfmts)
            )
        )
    return _msg(b"T", out)


def _encode_binary(value: Any, spark_type: str) -> bytes | None:
    """Binary result format for the engine's output types, matching the
    OID _oid_for reports for the column (ints are described as int8, so
    the wire value is always 8 bytes)."""
    if value is None:
        return None
    if spark_type in ("bigint", "int", "smallint", "tinyint", "long"):
        return struct.pack("!q", int(value))
    if spark_type in ("double", "float", "decimal"):
        return struct.pack("!d", float(value))
    if spark_type == "boolean":
        return b"\x01" if value else b"\x00"
    return _encode(value)  # text OID: binary representation IS the utf8 text


def _data_row(
    values: list[Any],
    types: list[str] | None = None,
    rfmts: tuple[int, ...] | None = None,
) -> bytes:
    out = struct.pack("!H", len(values))
    for i, v in enumerate(values):
        if _fmt_for(i, rfmts) == 1 and types is not None:
            enc = _encode_binary(v, types[i])
        else:
            enc = _encode(v)
        if enc is None:
            out += struct.pack("!i", -1)
        else:
            out += struct.pack("!I", len(enc)) + enc
    return _msg(b"D", out)


# Binary PARAMETER decoding (psycopg3/JDBC send these for typed params;
# the OID comes from the Parse message's declared parameter types).
def _decode_binary_param(data: bytes, oid: int) -> bytes:
    """Binary-format parameter → the equivalent text-format bytes, so the
    substitution path downstream is shared with text parameters."""
    try:
        if oid == 20:  # int8
            return str(struct.unpack("!q", data)[0]).encode()
        if oid == 23:  # int4
            return str(struct.unpack("!i", data)[0]).encode()
        if oid == 21:  # int2
            return str(struct.unpack("!h", data)[0]).encode()
        if oid == 701:  # float8
            return repr(struct.unpack("!d", data)[0]).encode()
        if oid == 700:  # float4
            return repr(struct.unpack("!f", data)[0]).encode()
        if oid == _OID_BOOL:
            return b"true" if data != b"\x00" else b"false"
    except struct.error:
        raise _WireError("malformed binary parameter", "08P01") from None
    if oid in (25, 1043, 19, 705):  # text/varchar/name/unknown: utf8 already
        return data
    raise _WireError(f"binary format for parameter type oid {oid} not supported")


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("client closed")
        buf += chunk
    return buf


class _WireError(Exception):
    """Protocol-level error with a SQLSTATE; the session skips to Sync."""

    def __init__(self, message: str, sqlstate: str = "0A000"):
        super().__init__(message)
        self.message = message
        self.sqlstate = sqlstate


_NUMERIC_PARAM = re.compile(r"-?\d+(\.\d+)?([eE][+-]?\d+)?")
_PLACEHOLDER = re.compile(r"\$(\d+)")


def _substitute_params(sql: str, params: list[bytes | None]) -> str:
    """$N placeholders → literals (text-format parameters). Numeric-looking
    values pass through bare, everything else is a ''-escaped string, NULL
    params become ``null``. Placeholders inside string literals are not
    protected — psql/driver-generated SQL never puts them there."""

    def repl(m: re.Match) -> str:
        i = int(m.group(1)) - 1
        if i < 0 or i >= len(params):
            raise _WireError(f"no parameter ${m.group(1)}", "08P01")
        v = params[i]
        if v is None:
            return "null"
        s = v.decode("utf-8", "replace")
        if _NUMERIC_PARAM.fullmatch(s):
            return s
        return "'" + s.replace("'", "''") + "'"

    return _PLACEHOLDER.sub(repl, sql)


# COPY <series> [(cols)] FROM STDIN [[WITH] (FORMAT text|csv)] — the psql
# \copy bulk-load path. The reference has no COPY at all (its wire server
# answers only simple queries); this is beyond-reference, implemented
# because bulk load over psql is the single most common "get data in"
# gesture a Postgres user tries first.
_COPY_STDIN = re.compile(
    r"copy\s+([A-Za-z_][\w.]*)\s*(?:\(([^)]*)\))?\s*from\s+stdin"
    r"\s*(?:with\s*)?(?:\(\s*format\s+(\w+)\s*\))?\s*$",
    re.IGNORECASE,
)

# COPY <series> [(cols)] TO STDOUT or COPY (<select>) TO STDOUT — the export
# twin (psql `\copy ... to file`).
_COPY_STDOUT = re.compile(
    r"copy\s+(?:\(\s*(.+?)\s*\)|([A-Za-z_][\w.]*)\s*(?:\(([^)]*)\))?)\s*to\s+stdout"
    r"\s*(?:with\s*)?(?:\(\s*format\s+(\w+)\s*\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # noqa: C901 — one message loop, kept together
        server: PgWireServer = self.server.pgwire  # type: ignore[attr-defined]
        sock = self.request
        self._stmts: dict[str, str] = {}
        self._portals: dict[str, dict] = {}
        self._skip_to_sync = False
        try:
            self._startup(sock)
            self._ready(sock)
            while True:
                tag = _recv_exact(sock, 1)
                (length,) = struct.unpack("!I", _recv_exact(sock, 4))
                if length < 4 or length - 4 > _MAX_MESSAGE:
                    return  # reference: InvalidMessageLength/MessageTooLarge
                payload = _recv_exact(sock, length - 4)
                if tag == b"X":  # Terminate
                    return
                if tag == b"S":  # Sync — close error window, ReadyForQuery
                    self._skip_to_sync = False
                    self._portals.pop("", None)  # unnamed portal ends at Sync
                    self._ready(sock)
                    continue
                if tag in (b"P", b"B", b"D", b"E", b"C", b"H"):
                    if self._skip_to_sync:
                        continue  # protocol: discard until Sync after error
                    try:
                        self._extended(sock, server, tag, payload)
                    except _WireError as we:
                        sock.sendall(_error_response(we.message, we.sqlstate))
                        self._skip_to_sync = True
                    except Exception as exc:  # noqa: BLE001 — pg error
                        sock.sendall(
                            _error_response(str(exc).split("\n")[0][:500], "XX000")
                        )
                        self._skip_to_sync = True
                    continue
                if tag != b"Q":
                    sock.sendall(
                        _error_response(
                            f"unsupported message type {tag!r}", "0A000"
                        )
                    )
                    self._ready(sock)
                    continue
                sql = payload.rstrip(b"\x00").decode("utf-8", "replace")
                stripped = sql.strip().rstrip(";").strip()
                m = _COPY_STDIN.match(stripped)
                mo = _COPY_STDOUT.match(stripped) if not m else None
                if m:
                    self._copy_in(sock, server, m)
                elif mo:
                    self._copy_out(sock, server, mo)
                else:
                    self._query(sock, server, sql)
                self._ready(sock)
        except (ConnectionError, OSError):
            return

    # --- extended protocol -------------------------------------------------
    def _extended(self, sock, server: "PgWireServer", tag: bytes, payload: bytes) -> None:
        if tag == b"P":
            self._ext_parse(sock, payload)
        elif tag == b"B":
            self._ext_bind(sock, payload)
        elif tag == b"D":
            self._ext_describe(sock, server, payload)
        elif tag == b"E":
            self._ext_execute(sock, server, payload)
        elif tag == b"C":
            self._ext_close(sock, payload)
        # b"H" Flush: every response is already written unbuffered — no-op

    @staticmethod
    def _cstring(buf: bytes, off: int) -> tuple[str, int]:
        end = buf.index(b"\x00", off)
        return buf[off:end].decode("utf-8", "replace"), end + 1

    def _ext_parse(self, sock, payload: bytes) -> None:
        """Parse: validate the frame, pre-check translatability (so an
        unsupported statement errors HERE with the translator's sqlstate,
        like the reference's targeted responses), store the statement."""
        from sydradb_spark.compat.translator import translate

        try:
            name, off = self._cstring(payload, 0)
            sql, off = self._cstring(payload, off)
        except ValueError:
            raise _WireError("malformed parse message", "08P01") from None
        if len(payload) < off + 2:
            raise _WireError("parse message truncated", "08P01")
        (n_params,) = struct.unpack("!H", payload[off : off + 2])
        if len(payload) < off + 2 + n_params * 4:
            raise _WireError("parse message truncated", "08P01")
        param_oids = struct.unpack(
            f"!{n_params}I", payload[off + 2 : off + 2 + n_params * 4]
        )
        from sydradb_spark.compat import catalog as pg_catalog

        if not pg_catalog.is_catalog_query(sql):
            # neutralize $N so placeholders can't break the shape check
            t = translate(_PLACEHOLDER.sub("0", sql.strip()))
            if not t.ok:
                raise _WireError(
                    t.message or "translation failed", t.sqlstate or "0A000"
                )
        self._stmts[name] = {"sql": sql.strip(), "param_oids": param_oids}
        sock.sendall(_msg(b"1", b""))  # ParseComplete

    def _ext_bind(self, sock, payload: bytes) -> None:
        try:
            portal, off = self._cstring(payload, 0)
            stmt, off = self._cstring(payload, off)
            (n_fmt,) = struct.unpack("!H", payload[off : off + 2])
            off += 2
            fmts = struct.unpack(f"!{n_fmt}H", payload[off : off + 2 * n_fmt])
            off += 2 * n_fmt
            (n_params,) = struct.unpack("!H", payload[off : off + 2])
            off += 2
            raw: list[tuple[bytes | None, int]] = []
            for i in range(n_params):
                (ln,) = struct.unpack("!i", payload[off : off + 4])
                off += 4
                fmt = fmts[i if n_fmt > 1 else 0] if n_fmt else 0
                if ln == -1:
                    raw.append((None, fmt))
                else:
                    raw.append((payload[off : off + ln], fmt))
                    off += ln
            (n_rfmt,) = struct.unpack("!H", payload[off : off + 2])
            off += 2
            rfmts = struct.unpack(f"!{n_rfmt}H", payload[off : off + 2 * n_rfmt])
        except (ValueError, struct.error):
            raise _WireError("malformed bind message", "08P01") from None
        if stmt not in self._stmts:
            raise _WireError(f"prepared statement {stmt!r} not found", "26000")
        st = self._stmts[stmt]
        params: list[bytes | None] = []
        for i, (data, fmt) in enumerate(raw):
            if data is None or fmt == 0:
                params.append(data)
                continue
            # binary-format parameter: decode via the OID declared in Parse
            # (psycopg3/JDBC always declare types when sending binary)
            oid = st["param_oids"][i] if i < len(st["param_oids"]) else 0
            if oid == 0:
                raise _WireError(
                    "binary parameter with unspecified type (declare the "
                    "parameter OID in Parse)"
                )
            params.append(_decode_binary_param(data, oid))
        self._portals[portal] = {
            "sql": _substitute_params(st["sql"], params),
            "rfmts": rfmts,
        }
        sock.sendall(_msg(b"2", b""))  # BindComplete

    def _prepare_portal(self, server: "PgWireServer", portal: dict) -> None:
        """Run the portal's statement once; cache fields/rows (catalog) or
        the lazy frame (engine) for Describe + Execute to share."""
        if "kind" in portal:
            return
        from sydradb_spark import metrics
        from sydradb_spark.compat import catalog as pg_catalog
        from sydradb_spark.compat.translator import translate

        metrics.inc("sydra_compat_queries_total")
        sql = portal["sql"]
        if pg_catalog.is_catalog_query(sql):
            from sydradb_spark import metrics

            metrics.inc("sydra_compat_catalog_queries_total")
            try:
                fields, rows = server.catalog.execute(sql)
            except Exception as exc:  # noqa: BLE001
                raise _WireError(str(exc).split("\n")[0][:500], "42P01") from None
            portal.update(kind="catalog", fields=fields, rows=rows)
            return
        t = translate(sql)
        if not t.ok:
            raise _WireError(t.message or "not supported", t.sqlstate or "0A000")
        try:
            result = server.engine.query(t.sydraql)
            df = result.df.limit(server.max_rows + 1)
            fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        except Exception as exc:  # noqa: BLE001
            raise _WireError(str(exc).split("\n")[0][:500], "42601") from None
        portal.update(kind="engine", df=df, result=result, fields=fields)

    def _ext_describe(self, sock, server: "PgWireServer", payload: bytes) -> None:
        try:
            kind = payload[0:1].decode()
            name, _ = self._cstring(payload, 1)
        except (ValueError, IndexError):
            raise _WireError("malformed describe message", "08P01") from None
        if kind == "S":
            if name not in self._stmts:
                raise _WireError(f"prepared statement {name!r} not found", "26000")
            st = self._stmts[name]
            n = max(len(set(_PLACEHOLDER.findall(st["sql"]))), len(st["param_oids"]))
            # ParameterDescription: the OIDs declared in Parse, 0
            # (unspecified) for any the client left untyped
            desc = struct.pack("!H", n)
            for i in range(n):
                oid = st["param_oids"][i] if i < len(st["param_oids"]) else 0
                desc += struct.pack("!I", oid)
            sock.sendall(_msg(b"t", desc))
            if n == 0:
                # parameter-less statement: a real RowDescription (JDBC's
                # Parse→Describe(S)→Bind→Execute flow builds its result
                # metadata from this) — prepare through a throwaway portal
                portal = {"sql": st["sql"]}
                self._prepare_portal(server, portal)
                if portal.get("fields"):
                    sock.sendall(_row_description(portal["fields"]))
                    return
            # parameterized (schema can depend on the values) → NoData;
            # drivers fall back to the portal describe after Bind
            sock.sendall(_msg(b"n", b""))
            return
        if name not in self._portals:
            raise _WireError(f"portal {name!r} not found", "34000")
        portal = self._portals[name]
        self._prepare_portal(server, portal)
        if portal.get("fields"):
            sock.sendall(_row_description(portal["fields"], portal.get("rfmts")))
        else:
            sock.sendall(_msg(b"n", b""))  # NoData

    def _ext_execute(self, sock, server: "PgWireServer", payload: bytes) -> None:
        try:
            name, off = self._cstring(payload, 0)
            # int32 row limit follows; <=0 = no limit. A positive limit pages
            # the portal: rows beyond it stay positioned on the portal and
            # Execute answers PortalSuspended ('s') instead of
            # CommandComplete — JDBC's setFetchSize and psycopg3 server-side
            # cursors drive exactly this loop (r9 verdict item 8; the
            # reference rejects the whole extended protocol, server.zig:184).
            if len(payload) < off + 4:
                # the int32 row limit is mandatory in the protocol — a
                # truncated Execute is a protocol violation, not limit=0
                raise _WireError("malformed execute message", "08P01")
            (limit,) = struct.unpack("!i", payload[off : off + 4])
        except ValueError:
            raise _WireError("malformed execute message", "08P01") from None
        if name not in self._portals:
            raise _WireError(f"portal {name!r} not found", "34000")
        portal = self._portals[name]
        self._prepare_portal(server, portal)
        if portal.get("done"):
            # a completed portal has no more rows: re-Execute answers an
            # empty completion, not a replay of the rowset
            sock.sendall(_msg(b"C", b"SELECT 0\x00"))
            return
        fields = portal["fields"]
        rfmts = portal.get("rfmts")
        types = [t for _, t in fields]
        if "out_rows" not in portal:
            # one materialization per portal, capped at max_rows (a cut is
            # noticed at completion); suspension resumes from this cache
            if portal["kind"] == "catalog":
                portal["out_rows"] = [list(r) for r in portal["rows"]]
            else:
                try:
                    collected, portal["cut"] = _cap(
                        portal["df"].collect(), server.max_rows
                    )
                except Exception as exc:  # noqa: BLE001
                    raise _WireError(str(exc).split("\n")[0][:500], "42601") from None
                portal["out_rows"] = [[row[n] for n, _ in fields] for row in collected]
            portal["pos"] = 0
        rows = portal["out_rows"]
        pos = portal["pos"]
        end = len(rows) if limit <= 0 else min(pos + limit, len(rows))
        for row in rows[pos:end]:
            sock.sendall(_data_row(row, types, rfmts))
        portal["pos"] = end
        if end < len(rows):
            sock.sendall(_msg(b"s", b""))  # PortalSuspended: more rows remain
            return
        portal["done"] = True
        # tag counts rows processed in THIS run (pg's nprocessed semantics),
        # not the portal lifetime total
        done = _msg(b"C", f"SELECT {end - pos}".encode() + b"\x00")
        sock.sendall(portal.get("cut", b"") + done)

    def _ext_close(self, sock, payload: bytes) -> None:
        try:
            kind = payload[0:1].decode()
            name, _ = self._cstring(payload, 1)
        except (ValueError, IndexError):
            raise _WireError("malformed close message", "08P01") from None
        (self._stmts if kind == "S" else self._portals).pop(name, None)
        sock.sendall(_msg(b"3", b""))  # CloseComplete

    def _startup(self, sock: socket.socket) -> None:
        while True:
            (length,) = struct.unpack("!I", _recv_exact(sock, 4))
            # same bound the message loop enforces (r14 wire review): the
            # startup path previously trusted the client's length field —
            # 0xFFFFFFFF made _recv_exact try to buffer ~4 GiB, and < 4
            # underflowed into a short read + struct.error
            if length < 8 or length - 4 > _MAX_MESSAGE:
                raise ConnectionError("malformed startup length")
            body = _recv_exact(sock, length - 4)
            (proto,) = struct.unpack("!I", body[:4])
            if proto == _SSL_REQUEST:
                sock.sendall(b"N")  # TLS not supported (server.zig SSLRequest)
                continue
            if proto == _CANCEL_REQUEST:
                raise ConnectionError("cancel request")
            break  # StartupMessage; parameters ignored (no auth, like ref dev mode)
        sock.sendall(_msg(b"R", struct.pack("!I", 0)))  # AuthenticationOk
        for k, v in (("server_version", "14.0 (sydradb-spark)"), ("client_encoding", "UTF8")):
            sock.sendall(_msg(b"S", k.encode() + b"\x00" + v.encode() + b"\x00"))

    @staticmethod
    def _ready(sock: socket.socket) -> None:
        sock.sendall(_msg(b"Z", b"I"))

    def _copy_in(self, sock: socket.socket, server: "PgWireServer", m: re.Match) -> None:
        """COPY <series> [(cols)] FROM STDIN — CopyInResponse, drain
        CopyData until CopyDone/CopyFail, then feed the rows through the
        engine's INSERT path in chunks (inherits durability + validation).
        text format (tab-separated, \\N null) and csv are supported.

        Deviation from Postgres: chunked inserts are not atomic ACROSS
        chunks — an engine error mid-load leaves earlier chunks applied
        (the manifest keeps each chunk commit itself atomic). Rows are
        validated before any insert runs, so the malformed-input paths
        (bad column count, CopyFail) apply nothing."""
        table = m.group(1)
        cols = [c.strip() for c in (m.group(2) or "time, value").split(",") if c.strip()]
        fmt = (m.group(3) or "text").lower()
        if fmt not in ("text", "csv"):
            sock.sendall(_error_response(f"COPY format {fmt} not supported", "0A000"))
            return
        ncols = len(cols)
        sock.sendall(
            _msg(b"G", struct.pack("!bH", 0, ncols) + struct.pack(f"!{ncols}H", *([0] * ncols)))
        )
        buf = bytearray()
        failed: str | None = None
        while True:
            tag = _recv_exact(sock, 1)
            (length,) = struct.unpack("!I", _recv_exact(sock, 4))
            if length < 4 or length - 4 > _MAX_MESSAGE:
                raise ConnectionError("oversized CopyData")
            pl = _recv_exact(sock, length - 4)
            if tag == b"d":  # CopyData
                if failed is not None:
                    continue  # over-cap: DRAIN the stream to CopyDone —
                    # breaking mid-copy would desync framing (the client's
                    # in-flight CopyData would parse as new messages)
                if len(buf) + len(pl) > _MAX_COPY:
                    failed = f"COPY payload exceeds {_MAX_COPY} bytes"
                    buf.clear()
                    continue
                buf.extend(pl)
            elif tag == b"c":  # CopyDone
                break
            elif tag == b"f":  # CopyFail
                failed = pl.rstrip(b"\x00").decode("utf-8", "replace")
                break
            elif tag in (b"H", b"S"):  # Flush/Sync mid-copy: ignore
                continue
            else:
                failed = f"unexpected message {tag!r} during COPY"
                break
        if failed is not None:
            sock.sendall(_error_response(f"COPY failed: {failed}", "57014"))
            return
        text_data = bytes(buf).decode("utf-8", "replace")
        rows: list[list[str]] = []
        if fmt == "csv":
            import csv as _csv
            import io as _io

            # real CSV parsing (quoted fields, embedded commas/newlines) —
            # psql \copy quotes freely
            reader = _csv.reader(_io.StringIO(text_data))
            candidates = [row for row in reader if row]
        else:
            candidates = [
                line.split("\t")
                for line in (
                    ln.rstrip("\r") for ln in text_data.split("\n")
                )
                if line and line != "\\."
            ]
        for parts in candidates:
            if parts == ["\\."]:
                continue
            parts = [p.strip() for p in parts]
            if len(parts) != ncols:
                sock.sendall(
                    _error_response(
                        f"COPY row has {len(parts)} columns, expected {ncols}",
                        "22P04",
                    )
                )
                return
            rows.append(parts)
        if not rows:
            sock.sendall(_msg(b"C", b"COPY 0\x00"))
            return

        def lit(s: str) -> str:
            if s == "\\N":
                return "null"
            if _NUMERIC_PARAM.fullmatch(s):
                return s
            return "'" + s.replace("'", "''") + "'"

        chunk = 500  # bounded INSERT statements, engine-validated per chunk
        try:
            for i in range(0, len(rows), chunk):
                vals = ", ".join(
                    "(" + ", ".join(lit(v) for v in r) + ")" for r in rows[i : i + chunk]
                )
                server.engine.query(
                    f"insert into {table} ({', '.join(cols)}) values {vals}"
                )
        except Exception as exc:  # noqa: BLE001 — surface as pg error
            sock.sendall(_error_response(str(exc).split("\n")[0][:500], "42601"))
            return
        sock.sendall(_msg(b"C", f"COPY {len(rows)}".encode() + b"\x00"))

    def _copy_out(self, sock: socket.socket, server: "PgWireServer", m: re.Match) -> None:
        """COPY ... TO STDOUT: run the inner select (or a full-range scan of
        the named series) through the engine, stream rows as CopyData in
        text or csv format."""
        inner, table, cols_raw, fmt = m.group(1), m.group(2), m.group(3), (
            m.group(4) or "text"
        ).lower()
        if fmt not in ("text", "csv"):
            sock.sendall(_error_response(f"COPY format {fmt} not supported", "0A000"))
            return
        if inner:
            from sydradb_spark.compat.translator import translate

            t = translate(inner)
            if not t.ok:
                sock.sendall(
                    _error_response(t.message or "not supported", t.sqlstate or "0A000")
                )
                return
            stmt = t.sydraql
        else:
            cols = ", ".join(
                c.strip() for c in (cols_raw or "time, value").split(",") if c.strip()
            )
            stmt = f"select {cols} from {table} where time >= 0"
        try:
            df = server.engine.query(stmt).df.limit(server.max_rows + 1)
            rows, cut = _cap(df.collect(), server.max_rows)
            names = df.columns
        except Exception as exc:  # noqa: BLE001 — surface as pg error
            sock.sendall(_error_response(str(exc).split("\n")[0][:500], "42601"))
            return
        ncols = len(names)
        sock.sendall(
            _msg(b"H", struct.pack("!bH", 0, ncols) + struct.pack(f"!{ncols}H", *([0] * ncols)))
        )
        if fmt == "csv":
            import csv as _csv
            import io as _io

            for row in rows:
                out = _io.StringIO()
                _csv.writer(out, lineterminator="\n").writerow(
                    ["" if row[n] is None else row[n] for n in names]
                )
                sock.sendall(_msg(b"d", out.getvalue().encode()))
        else:
            for row in rows:
                line = "\t".join(
                    "\\N" if row[n] is None else str(row[n]) for n in names
                )
                sock.sendall(_msg(b"d", line.encode() + b"\n"))
        sock.sendall(_msg(b"c", b""))
        sock.sendall(cut + _msg(b"C", f"COPY {len(rows)}".encode() + b"\x00"))

    @staticmethod
    def _query(sock: socket.socket, server: "PgWireServer", sql: str) -> None:
        from sydradb_spark import metrics
        from sydradb_spark.compat import catalog as pg_catalog
        from sydradb_spark.compat.translator import translate

        metrics.inc("sydra_compat_queries_total")
        if not sql.strip():
            sock.sendall(_msg(b"I", b""))  # EmptyQueryResponse
            return
        if pg_catalog.is_catalog_query(sql):
            # psql \dt / \d and driver type-OID probes: answered from the
            # in-process catalog snapshot (compat/catalog.py), never Spark —
            # metadata lookups are latency-bound, exactly as the reference
            # serves them from its snapshot rather than the storage engine.
            metrics.inc("sydra_compat_catalog_queries_total")
            try:
                fields, rows = server.catalog.execute(sql)
            except Exception as exc:  # noqa: BLE001 — surface as pg error
                sock.sendall(
                    _error_response(str(exc).split("\n")[0][:500], "42P01")
                )
                return
            sock.sendall(_row_description(fields))
            for row in rows:
                sock.sendall(_data_row(list(row)))
            sock.sendall(_msg(b"C", f"SELECT {len(rows)}".encode() + b"\x00"))
            return
        t = translate(sql)
        if not t.ok:
            sock.sendall(_error_response(t.message or "not supported", t.sqlstate or "0A000"))
            return
        import time
        import uuid

        t0 = time.perf_counter()
        try:
            result = server.engine.query(t.sydraql)
            df = result.df.limit(server.max_rows + 1)
            fields = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
            rows, cut = _cap(df.collect(), server.max_rows)
        except Exception as exc:  # noqa: BLE001 — surface as pg error
            sock.sendall(_error_response(str(exc).split("\n")[0][:500], "42601"))
            return
        sock.sendall(_row_description(fields))
        for row in rows:
            sock.sendall(_data_row([row[name] for name, _ in fields]))
        from sydradb_spark.api import _plan_stats

        stream_ms = int((time.perf_counter() - t0) * 1000)
        for notice in _diagnostic_notices(
            fields,
            result.stats,
            _plan_stats(df).get("operators", []),
            rows_emitted=len(rows),
            stream_ms=stream_ms,
            trace_id=uuid.uuid4().hex[:16],
        ):
            sock.sendall(notice)
        sock.sendall(cut + _msg(b"C", f"SELECT {len(rows)}".encode() + b"\x00"))


class PgWireServer:
    """Threaded pg wire server over one SydraQLEngine.

    ``port=0`` binds an ephemeral port; ``addr`` reports the bound address.
    """

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0, max_rows: int = 10_000):
        from sydradb_spark.compat.catalog import CatalogStore

        self.engine = engine
        self.max_rows = max_rows
        self.catalog = CatalogStore()  # DuckDB connection opens lazily
        self._tcp = socketserver.ThreadingTCPServer((host, port), _Handler, bind_and_activate=True)
        self._tcp.daemon_threads = True
        self._tcp.pgwire = self  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    @property
    def addr(self) -> tuple[str, int]:
        return self._tcp.server_address  # type: ignore[return-value]

    def start(self) -> "PgWireServer":
        self._thread = threading.Thread(target=self._tcp.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()
