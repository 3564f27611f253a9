"""Typed packet codecs.

Python rebuild of the reference's packet structs:

* ``Handshake``          — /root/reference/mysql/packet_handshake.go:6-186
  (v10 write; v9/v10 read incl. split auth-plugin-data parts)
* ``HandshakeResponse``  — /root/reference/mysql/packet_handshake_response.go:4-250
  (4.1 and legacy 3.20 formats, bare-SSL-request detection, the three
  auth-blob encodings, connect-attrs map)
* ``Err``                — /root/reference/mysql/packet_err.go:4-21
* ``Ok`` / ``Eof`` / column definition / text row — the result-set
  surface the reference relays opaquely (engine-side here).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from tidb_gateway_spark.gateway import constants as C
from tidb_gateway_spark.gateway.wire import Buffer, ProtocolError


@dataclass
class Handshake:
    protocol_version: int = C.PROTOCOL_VERSION
    server_version: str = C.SERVER_VERSION
    connection_id: int = 0
    auth_plugin_data: bytes = b"\x00" * 20  # reference zeroes the nonce (gateway.go:188)
    capability: int = C.DEFAULT_CAPABILITY
    collation_id: int = C.DEFAULT_COLLATION_ID
    status: int = C.SERVER_STATUS_AUTOCOMMIT
    auth_plugin_name: str = C.AUTH_NATIVE

    def write(self) -> bytes:
        # packet_handshake.go:18-63
        b = Buffer()
        b.write_byte(self.protocol_version)
        b.write_string_null(self.server_version.encode())
        b.write_uint(self.connection_id, 4)
        part1, part2 = self.auth_plugin_data[:8], self.auth_plugin_data[8:]
        b.write_bytes(part1)
        b.write_byte(0)  # filler
        b.write_uint(self.capability & 0xFFFF, 2)
        b.write_byte(self.collation_id)
        b.write_uint(self.status, 2)
        b.write_uint(self.capability >> 16, 2)
        if self.capability & C.CLIENT_PLUGIN_AUTH:
            b.write_byte(len(self.auth_plugin_data) + 1)
        else:
            b.write_byte(0)
        b.write_bytes(b"\x00" * 10)  # reserved
        if self.capability & C.CLIENT_SECURE_CONNECTION:
            b.write_bytes(part2)
            b.write_byte(0)
        if self.capability & C.CLIENT_PLUGIN_AUTH:
            b.write_string_null(self.auth_plugin_name.encode())
        return b.getvalue()

    @classmethod
    def read(cls, payload: bytes) -> "Handshake":
        # packet_handshake.go:67-186; v9 and v10 only (:74-76, 90-98)
        b = Buffer(payload)
        h = cls()
        h.protocol_version = b.read_byte()
        if h.protocol_version not in (9, 10):
            raise ProtocolError(f"unsupported protocol version {h.protocol_version}")
        h.server_version = b.read_string_null().decode()
        h.connection_id = b.read_uint(4)
        if h.protocol_version == 9:
            h.auth_plugin_data = b.read_string_null()
            return h
        part1 = b.read_bytes(8)
        b.skip(1)
        h.capability = b.read_uint(2)
        if b.remaining() == 0:
            h.auth_plugin_data = part1
            return h
        h.collation_id = b.read_byte()
        h.status = b.read_uint(2)
        h.capability |= b.read_uint(2) << 16
        auth_len = b.read_byte()
        b.skip(10)
        part2 = b""
        if h.capability & C.CLIENT_SECURE_CONNECTION:
            n = max(13, auth_len - 8) - 1  # trailing NUL
            part2 = b.read_bytes(n)
            b.skip(1)
        h.auth_plugin_data = part1 + part2
        if h.capability & C.CLIENT_PLUGIN_AUTH:
            h.auth_plugin_name = b.read_string_null().decode()
        return h


@dataclass
class HandshakeResponse:
    capability: int = 0
    max_packet_size: int = 0
    collation_id: int = C.DEFAULT_COLLATION_ID
    username: str = ""
    auth_response: bytes = b""
    database: str = ""
    auth_plugin_name: str = ""
    attrs: dict[str, str] = field(default_factory=dict)
    is_ssl_request: bool = False

    def write(self) -> bytes:
        # packet_handshake_response.go:16-97 (4.1 form; legacy 3.20 when
        # CLIENT_PROTOCOL_41 unset — :30-44)
        b = Buffer()
        if not (self.capability & C.CLIENT_PROTOCOL_41):
            b.write_uint(self.capability & 0xFFFF, 2)
            b.write_uint(self.max_packet_size & 0xFFFFFF, 3)
            b.write_string_null(self.username.encode())
            if self.capability & C.CLIENT_CONNECT_WITH_DB:
                b.write_string_null(self.auth_response)
                b.write_string_null(self.database.encode())
            else:
                b.write_bytes(self.auth_response)
            return b.getvalue()
        b.write_uint(self.capability, 4)
        b.write_uint(self.max_packet_size, 4)
        b.write_byte(self.collation_id)
        b.write_bytes(b"\x00" * 23)
        if self.is_ssl_request:
            return b.getvalue()
        b.write_string_null(self.username.encode())
        if self.capability & C.CLIENT_PLUGIN_AUTH_LENENC_CLIENT_DATA:
            b.write_lenenc_string(self.auth_response)
        elif self.capability & C.CLIENT_SECURE_CONNECTION:
            b.write_byte(len(self.auth_response))
            b.write_bytes(self.auth_response)
        else:
            b.write_string_null(self.auth_response)
        if self.capability & C.CLIENT_CONNECT_WITH_DB:
            b.write_string_null(self.database.encode())
        if self.capability & C.CLIENT_PLUGIN_AUTH:
            b.write_string_null(self.auth_plugin_name.encode())
        if self.capability & C.CLIENT_CONNECT_ATTRS:
            attrs = Buffer()
            for k, v in self.attrs.items():
                attrs.write_lenenc_string(k.encode())
                attrs.write_lenenc_string(v.encode())
            b.write_lenenc_string(attrs.getvalue())
        return b.getvalue()

    @classmethod
    def read(cls, payload: bytes) -> "HandshakeResponse":
        b = Buffer(payload)
        r = cls()
        r.capability = b.read_uint(2)
        if not (r.capability & C.CLIENT_PROTOCOL_41):
            # legacy 3.20 format (packet_handshake_response.go:104-137)
            r.max_packet_size = b.read_uint(3)
            r.username = b.read_string_null().decode()
            if r.capability & C.CLIENT_CONNECT_WITH_DB:
                r.auth_response = b.read_string_null()
                r.database = b.read_string_null().decode()
            else:
                r.auth_response = b.rest()
            return r
        r.capability |= b.read_uint(2) << 16
        r.max_packet_size = b.read_uint(4)
        r.collation_id = b.read_byte()
        b.skip(23)
        if b.remaining() == 0:
            # bare SSL request: payload ends after the 32-byte prefix
            # (packet_handshake_response.go:158-160)
            r.is_ssl_request = True
            return r
        r.username = b.read_string_null().decode()
        if r.capability & C.CLIENT_PLUGIN_AUTH_LENENC_CLIENT_DATA:
            r.auth_response = b.read_lenenc_string()
        elif r.capability & C.CLIENT_SECURE_CONNECTION:
            n = b.read_byte()
            r.auth_response = b.read_bytes(n)
        else:
            r.auth_response = b.read_string_null()
        if r.capability & C.CLIENT_CONNECT_WITH_DB:
            r.database = b.read_string_null().decode()
        if r.capability & C.CLIENT_PLUGIN_AUTH:
            # tolerate missing trailing NUL from sloppy clients
            if b.remaining():
                raw = b.rest()
                name, _, rest = raw.partition(b"\x00")
                r.auth_plugin_name = name.decode()
                b = Buffer(rest)
            else:
                b = Buffer(b"")
        if r.capability & C.CLIENT_CONNECT_ATTRS and b.remaining():
            attrs = Buffer(b.read_lenenc_string())
            while attrs.remaining():
                k = attrs.read_lenenc_string().decode()
                v = attrs.read_lenenc_string().decode()
                r.attrs[k] = v
        return r


def err_packet(capability: int, code: int = C.ER_UNKNOWN, message: str = "",
               sqlstate: str = C.SQLSTATE_UNKNOWN) -> bytes:
    # packet_err.go:13-21: 0xFF, code<2>, '#'+SQLSTATE when Protocol41
    b = Buffer()
    b.write_byte(0xFF)
    b.write_uint(code, 2)
    if capability & C.CLIENT_PROTOCOL_41:
        b.write_byte(ord("#"))
        b.write_bytes(sqlstate.encode()[:5].ljust(5, b"0"))
    b.write_bytes(message.encode())
    return b.getvalue()


def ok_packet(capability: int, affected: int = 0, last_insert_id: int = 0,
              status: int = C.SERVER_STATUS_AUTOCOMMIT) -> bytes:
    b = Buffer()
    b.write_byte(0x00)
    b.write_lenenc_int(affected)
    b.write_lenenc_int(last_insert_id)
    if capability & C.CLIENT_PROTOCOL_41:
        b.write_uint(status, 2)
        b.write_uint(0, 2)  # warnings
    return b.getvalue()


def eof_packet(capability: int, status: int = C.SERVER_STATUS_AUTOCOMMIT) -> bytes:
    b = Buffer()
    b.write_byte(0xFE)
    if capability & C.CLIENT_PROTOCOL_41:
        b.write_uint(0, 2)  # warnings
        b.write_uint(status, 2)
    return b.getvalue()


def column_definition(name: str, type_code: int, charset: int = C.DEFAULT_COLLATION_ID,
                      column_length: int = 255, decimals: int = 0,
                      flags: int = 0) -> bytes:
    """ColumnDefinition41 for the text protocol."""
    b = Buffer()
    b.write_lenenc_string(b"def")        # catalog
    b.write_lenenc_string(b"")           # schema
    b.write_lenenc_string(b"")           # table
    b.write_lenenc_string(b"")           # org_table
    b.write_lenenc_string(name.encode())
    b.write_lenenc_string(name.encode())  # org_name
    b.write_lenenc_int(0x0C)             # fixed-length fields marker
    b.write_uint(charset, 2)
    b.write_uint(column_length, 4)
    b.write_byte(type_code)
    b.write_uint(flags, 2)
    b.write_byte(decimals)
    b.write_uint(0, 2)                   # filler
    return b.getvalue()


def text_row(values: list[bytes | None]) -> bytes:
    """Text-protocol row: lenenc string per value, 0xFB for NULL."""
    b = Buffer()
    for v in values:
        if v is None:
            b.write_byte(0xFB)
        else:
            b.write_lenenc_string(v)
    return b.getvalue()
