"""Lean MySQL client for the benchmark's load generator.

Written independently of the gateway's own codecs, so a change to the
server's encoders cannot also change how the benchmark reads them.

Two read modes over one connection:

* lean (timed operations): parses packet frames only.  A result is
  summarized as its row count plus an order-insensitive digest (the
  sum of the CRC-32 of every row payload), so client CPU stays a small
  share of the time a statement takes;
* full (verification pass): decodes every column of text and binary
  rows into the MySQL text form, for comparison against the DuckDB
  oracle.

Compressed connections (CLIENT_COMPRESS) inflate frames into the same
packet buffer, so both modes work unchanged over them.
"""

from __future__ import annotations

import asyncio
import datetime as dt
import struct
import time
import zlib

CLIENT_LONG_PASSWORD = 1
CLIENT_COMPRESS = 1 << 5
CLIENT_LOCAL_FILES = 1 << 7
CLIENT_PROTOCOL_41 = 1 << 9
CLIENT_TRANSACTIONS = 1 << 13
CLIENT_SECURE_CONNECTION = 1 << 15
CLIENT_MULTI_RESULTS = 1 << 17
CLIENT_PLUGIN_AUTH = 1 << 19
CAPS = (CLIENT_LONG_PASSWORD | CLIENT_LOCAL_FILES | CLIENT_PROTOCOL_41
        | CLIENT_TRANSACTIONS | CLIENT_SECURE_CONNECTION
        | CLIENT_MULTI_RESULTS | CLIENT_PLUGIN_AUTH)

COM_QUIT, COM_QUERY = 0x01, 0x03
COM_STMT_PREPARE, COM_STMT_EXECUTE, COM_STMT_FETCH = 0x16, 0x17, 0x1C
CURSOR_TYPE_READ_ONLY = 0x01
STATUS_LAST_ROW_SENT = 1 << 7
MAX_PAYLOAD = 0xFFFFFF

T_TINY, T_SHORT, T_LONG, T_FLOAT, T_DOUBLE = 1, 2, 3, 4, 5
T_TIMESTAMP, T_LONGLONG, T_DATE, T_DATETIME = 7, 8, 10, 12


class ServerError(Exception):
    def __init__(self, payload: bytes):
        self.code = int.from_bytes(payload[1:3], "little")
        super().__init__(f"ERR {self.code}: {payload[9:].decode(errors='replace')}")


class ProtocolError(Exception):
    pass


class Result:
    """One result set: row count and digest always; column names and
    decoded rows only from a full read."""

    __slots__ = ("rows", "digest", "first_row_at", "status", "cols", "data")

    def __init__(self):
        self.rows = 0
        self.digest = 0
        self.first_row_at = None
        self.status = 0
        self.cols: list[str] | None = None
        self.data: list[tuple] | None = None


def lenenc(buf, pos: int) -> tuple[int | None, int]:
    """Decode a length-encoded integer at ``pos`` → (value, next pos);
    value None for the 0xFB NULL marker."""
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFB:
        return None, pos + 1
    width = {0xFC: 2, 0xFD: 3, 0xFE: 8}.get(first)
    if width is None:
        raise ProtocolError(f"bad lenenc prefix {first:#x}")
    return int.from_bytes(buf[pos + 1:pos + 1 + width], "little"), pos + 1 + width


class FrameBuffer:
    """Packet buffer fed from a plain or compressed byte stream."""

    def __init__(self, reader, compressed: bool = False):
        self.reader = reader
        self.compressed = compressed
        self.buf = bytearray()
        self.pos = 0
        self._raw = bytearray()
        self.capture: list[bytes] | None = None

    async def fill(self) -> None:
        data = await self.reader.read(1 << 18)
        if not data:
            raise ConnectionError("server closed the connection")
        if self.capture is not None:
            self.capture.append(data)
        if self.pos > (1 << 20):
            del self.buf[:self.pos]
            self.pos = 0
        if not self.compressed:
            self.buf += data
            return
        raw = self._raw
        raw += data
        p = 0
        while len(raw) - p >= 7:
            clen = raw[p] | raw[p + 1] << 8 | raw[p + 2] << 16
            ulen = raw[p + 4] | raw[p + 5] << 8 | raw[p + 6] << 16
            if len(raw) - p - 7 < clen:
                break
            body = raw[p + 7:p + 7 + clen]
            self.buf += zlib.decompress(body) if ulen else body
            p += 7 + clen
        del raw[:p]

    async def packet(self) -> tuple[int, bytes]:
        """Next whole packet → (sequence id, payload)."""
        while True:
            buf, pos = self.buf, self.pos
            if len(buf) - pos >= 4:
                ln = buf[pos] | buf[pos + 1] << 8 | buf[pos + 2] << 16
                if ln == MAX_PAYLOAD:
                    raise ProtocolError("multi-frame packets are not used by this benchmark")
                if len(buf) - pos - 4 >= ln:
                    self.pos = pos + 4 + ln
                    return buf[pos + 3], bytes(buf[pos + 4:pos + 4 + ln])
            await self.fill()

    async def scan_rows(self, res: Result) -> None:
        """Consume row packets up to and including the closing EOF,
        keeping only count and digest (the lean hot loop)."""
        crc = zlib.crc32
        rows, digest = res.rows, res.digest
        while True:
            buf, pos = self.buf, self.pos
            end = len(buf)
            view = memoryview(buf)
            try:
                while end - pos >= 4:
                    ln = buf[pos] | buf[pos + 1] << 8 | buf[pos + 2] << 16
                    nxt = pos + 4 + ln
                    if nxt > end:
                        break
                    head = buf[pos + 4] if ln else -1
                    if head == 0xFE and ln < 9:
                        res.status = int.from_bytes(buf[pos + 7:pos + 9], "little")
                        self.pos = nxt
                        res.rows, res.digest = rows, digest & 0xFFFFFFFFFFFFFFFF
                        return
                    if head == 0xFF:
                        self.pos = nxt
                        raise ServerError(bytes(buf[pos + 4:nxt]))
                    if ln == MAX_PAYLOAD:
                        raise ProtocolError("multi-frame row")
                    if rows == 0 and res.first_row_at is None:
                        res.first_row_at = time.perf_counter()
                    rows += 1
                    digest += crc(view[pos + 4:nxt])
                    pos = nxt
            finally:
                view.release()
            self.pos = pos
            res.rows, res.digest = rows, digest & 0xFFFFFFFFFFFFFFFF
            await self.fill()


def column_types(coldefs: list[bytes]) -> list[tuple[str, int]]:
    out = []
    for p in coldefs:
        pos = 0
        for _ in range(4):           # catalog, schema, table, org_table
            n, pos = lenenc(p, pos)
            pos += n
        n, pos = lenenc(p, pos)
        name = p[pos:pos + n].decode()
        pos += n
        n, pos = lenenc(p, pos)      # org_name
        pos += n
        pos += 1 + 2 + 4             # 0x0C marker, charset, length
        out.append((name, p[pos]))
    return out


def decode_text_row(p: bytes, ncols: int) -> tuple:
    row, pos = [], 0
    for _ in range(ncols):
        n, pos = lenenc(p, pos)
        if n is None:
            row.append(None)
        else:
            row.append(p[pos:pos + n].decode())
            pos += n
    return tuple(row)


def _binary_time(raw: bytes, tcode: int) -> str:
    n = len(raw)
    if n == 0:
        return "0000-00-00" if tcode == T_DATE else "0000-00-00 00:00:00"
    y, mo, d = int.from_bytes(raw[0:2], "little"), raw[2], raw[3]
    if n == 4:
        return dt.date(y, mo, d).isoformat()
    h, mi, s = raw[4], raw[5], raw[6]
    us = int.from_bytes(raw[7:11], "little") if n >= 11 else 0
    v = dt.datetime(y, mo, d, h, mi, s, us)
    return v.strftime("%Y-%m-%d %H:%M:%S.%f" if us else "%Y-%m-%d %H:%M:%S")


_FIXED = {T_TINY: ("<b", 1), T_SHORT: ("<h", 2), T_LONG: ("<i", 4),
          T_LONGLONG: ("<q", 8), T_FLOAT: ("<f", 4), T_DOUBLE: ("<d", 8)}


def decode_binary_row(p: bytes, types: list[int]) -> tuple:
    """Binary row → the text-protocol rendering of each value."""
    ncols = len(types)
    nulls = p[1:1 + (ncols + 9) // 8]
    pos = 1 + len(nulls)
    row = []
    for i, tcode in enumerate(types):
        bit = i + 2
        if nulls[bit // 8] & (1 << (bit % 8)):
            row.append(None)
            continue
        if tcode in _FIXED:
            fmt, width = _FIXED[tcode]
            v = struct.unpack_from(fmt, p, pos)[0]
            pos += width
            row.append(repr(v) if isinstance(v, float) else str(v))
        elif tcode in (T_DATE, T_TIMESTAMP, T_DATETIME):
            n = p[pos]
            row.append(_binary_time(p[pos + 1:pos + 1 + n], tcode))
            pos += 1 + n
        else:
            n, pos = lenenc(p, pos)
            row.append(p[pos:pos + n].decode())
            pos += n
    return tuple(row)


class Connection:
    """One client connection.  Not safe for concurrent use: a closed
    loop issues one command at a time."""

    def __init__(self):
        self.reader = self.writer = None
        self.fb: FrameBuffer | None = None
        self.compressed = False
        self._wseq = 0

    async def open(self, host: str, port: int, user: str,
                   compress: bool = False) -> None:
        self.reader, self.writer = await asyncio.open_connection(host, port)
        self.fb = FrameBuffer(self.reader)
        _, greet = await self.fb.packet()
        if greet[:1] == b"\xff":
            raise ServerError(greet)
        caps = CAPS | (CLIENT_COMPRESS if compress else 0)
        body = bytearray()
        body += caps.to_bytes(4, "little") + (1 << 24).to_bytes(4, "little")
        body += bytes([46]) + b"\x00" * 23
        body += user.encode() + b"\x00" + b"\x00"     # empty auth response
        body += b"mysql_native_password\x00"
        self._send(bytes(body), seq=1)
        await self.writer.drain()
        _, reply = await self.fb.packet()
        if reply[:1] != b"\x00":
            raise ServerError(reply) if reply[:1] == b"\xff" else ProtocolError(reply[:16])
        if compress:
            self.compressed = True
            rest = bytes(self.fb.buf[self.fb.pos:])
            self.fb = FrameBuffer(self.reader, compressed=True)
            self.fb._raw += rest

    def _send(self, payload: bytes, seq: int) -> None:
        frame = len(payload).to_bytes(3, "little") + bytes([seq & 0xFF]) + payload
        if self.compressed:
            # stored (uncompressed) frames: uncompressed length 0
            frame = (len(frame).to_bytes(3, "little") + bytes([self._wseq])
                     + b"\x00\x00\x00" + frame)
            self._wseq = (self._wseq + 1) & 0xFF
        self.writer.write(frame)

    async def command(self, cmd: int, payload: bytes = b"") -> None:
        self._wseq = 0
        self._send(bytes([cmd]) + payload, seq=0)
        await self.writer.drain()

    async def _header(self) -> tuple[int, bytes]:
        seq, first = await self.fb.packet()
        if first[:1] == b"\xff":
            raise ServerError(first)
        return seq, first

    async def _coldefs(self, n: int) -> list[bytes]:
        defs = [(await self.fb.packet())[1] for _ in range(n)]
        await self.fb.packet()                       # EOF after definitions
        return defs

    async def _result(self, lean: bool, binary: bool, first: bytes,
                      res: Result | None = None):
        """Read a result set whose first packet was ``first``; with
        ``res`` given, rows accumulate into it (cursor fetches)."""
        if first[:1] == b"\x00":
            n_aff, _ = lenenc(first, 1)
            return {"ok": True, "affected": n_aff}
        ncols, _ = lenenc(first, 0)
        defs = await self._coldefs(ncols)
        res = res or Result()
        if lean:
            await self.fb.scan_rows(res)
        else:
            await self.decode_rows(res, column_types(defs), binary)
        return res

    async def decode_rows(self, res: Result, cols: list[tuple[str, int]],
                          binary: bool) -> None:
        """Full read of row packets up to the closing EOF."""
        types = [t for _, t in cols]
        res.cols = [c for c, _ in cols]
        if res.data is None:
            res.data = []
        while True:
            _, p = await self.fb.packet()
            if p[:1] == b"\xfe" and len(p) < 9:
                res.status = int.from_bytes(p[3:5], "little")
                res.digest &= 0xFFFFFFFFFFFFFFFF
                return
            if p[:1] == b"\xff":
                raise ServerError(p)
            res.rows += 1
            res.digest += zlib.crc32(p)
            res.data.append(decode_binary_row(p, types) if binary
                            else decode_text_row(p, len(types)))

    async def query(self, sql: str, lean: bool = True, infile: bytes | None = None):
        """COM_QUERY → ``Result`` (decoded when ``lean`` is False), or
        an OK dict.  ``infile`` answers a LOCAL
        INFILE request."""
        await self.command(COM_QUERY, sql.encode())
        seq, first = await self._header()
        if first[:1] == b"\xfb":
            if infile is None:
                raise ProtocolError("server asked for a local file")
            step = 1 << 16
            for i in range(0, len(infile), step):
                seq += 1
                self._send(infile[i:i + step], seq)
            seq += 1
            self._send(b"", seq)
            await self.writer.drain()
            seq, first = await self._header()
        return await self._result(lean, False, first)

    async def prepare(self, sql: str) -> tuple[int, int]:
        await self.command(COM_STMT_PREPARE, sql.encode())
        _, first = await self._header()
        stmt_id = int.from_bytes(first[1:5], "little")
        ncols = int.from_bytes(first[5:7], "little")
        nparams = int.from_bytes(first[7:9], "little")
        if nparams:
            await self._coldefs(nparams)
        if ncols:
            await self._coldefs(ncols)
        return stmt_id, nparams

    async def execute(self, stmt_id: int, params: list[int], lean: bool = True,
                      cursor: bool = False, fetch_rows: int = 4096):
        """COM_STMT_EXECUTE with BIGINT parameters; with ``cursor`` the
        rows are drained by COM_STMT_FETCH in ``fetch_rows`` batches."""
        body = bytearray(stmt_id.to_bytes(4, "little"))
        body += bytes([CURSOR_TYPE_READ_ONLY if cursor else 0]) + (1).to_bytes(4, "little")
        if params:
            body += b"\x00" * ((len(params) + 7) // 8) + b"\x01"
            body += bytes([T_LONGLONG, 0]) * len(params)
            for v in params:
                body += struct.pack("<q", v)
        await self.command(COM_STMT_EXECUTE, bytes(body))
        _, first = await self._header()
        if not cursor:
            return await self._result(lean, True, first)
        ncols, _ = lenenc(first, 0)
        cols = column_types(await self._coldefs(ncols))
        res = Result()
        fetch = stmt_id.to_bytes(4, "little") + fetch_rows.to_bytes(4, "little")
        while not res.status & STATUS_LAST_ROW_SENT:
            await self.command(COM_STMT_FETCH, fetch)
            if lean:
                await self.fb.scan_rows(res)
            else:
                await self.decode_rows(res, cols, True)
        return res

    async def close(self) -> None:
        if self.writer is None:
            return
        try:
            await self.command(COM_QUIT)
        except ConnectionError:
            pass
        self.writer.close()
        try:
            await self.writer.wait_closed()
        except ConnectionError:
            pass
        self.writer = None
