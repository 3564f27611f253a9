"""The gateway's one result-set path: Spark schema → MySQL result set.

Everything a client receives as a result set is framed here, once:

* one Spark-type table (SURVEY.md §1.3's mapping, inverted) gives each
  column its MySQL type code, display length and charset
  (``mysql_type_for``) and its DDL type name (``mysql_type_name``);
* ``columns_of`` turns a schema into the column metadata that PREPARE
  responses, result headers and cursors all describe;
* ``frame`` lazily yields column count, column definitions, EOF, rows,
  EOF.  The row encoder is the only thing that differs between text
  rows (COM_QUERY, ``resultset_payloads``), binary rows (COM_STMT_EXECUTE
  and cursor FETCH, ``binary_rows``) and locally built SHOW/sysvar
  result sets (``write_simple_resultset``).

Terminators are always classic EOF packets: the server never advertises
the deprecate-EOF capability, and capabilities are negotiated once at
handshake (client flags & advertised flags), so no client can turn it on.

Flush discipline mirrors the reference's relay batching: bytes are
buffered and the transport flushed only at result-set boundaries
(the reference's gateway/relay.go:85-93).

Scale note: rows stream through ``toLocalIterator`` (one partition in
flight on the driver) rather than ``collect``, and nothing runs until the
generator is advanced, which the server does on an executor thread.  A
10 GB result set never materializes in driver memory at once.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tidb_gateway_spark.gateway import constants as C
from tidb_gateway_spark.gateway import packets

_BINARY_CHARSET = 63

# Spark type → (mysql type code, display length, charset, DDL type name)
_TYPES: dict[type, tuple[int, int, int, str]] = {
    T.ByteType: (C.MYSQL_TYPE_TINY, 4, _BINARY_CHARSET, "tinyint(4)"),
    T.ShortType: (C.MYSQL_TYPE_SHORT, 6, _BINARY_CHARSET, "smallint(6)"),
    T.IntegerType: (C.MYSQL_TYPE_LONG, 11, _BINARY_CHARSET, "int(11)"),
    T.LongType: (C.MYSQL_TYPE_LONGLONG, 20, _BINARY_CHARSET, "bigint(20)"),
    T.FloatType: (C.MYSQL_TYPE_FLOAT, 12, _BINARY_CHARSET, "float"),
    T.DoubleType: (C.MYSQL_TYPE_DOUBLE, 22, _BINARY_CHARSET, "double"),
    # DDL name carries precision and scale (mysql_type_name)
    T.DecimalType: (C.MYSQL_TYPE_NEWDECIMAL, 40, _BINARY_CHARSET, "decimal"),
    T.BooleanType: (C.MYSQL_TYPE_TINY, 1, _BINARY_CHARSET, "tinyint(1)"),
    T.DateType: (C.MYSQL_TYPE_DATE, 10, _BINARY_CHARSET, "date"),
    T.TimestampType: (C.MYSQL_TYPE_TIMESTAMP, 26, _BINARY_CHARSET, "timestamp(6)"),
    T.TimestampNTZType: (C.MYSQL_TYPE_TIMESTAMP, 26, _BINARY_CHARSET, "datetime(6)"),
    T.BinaryType: (C.MYSQL_TYPE_BLOB, 65535, _BINARY_CHARSET, "blob"),
    T.StringType: (C.MYSQL_TYPE_VAR_STRING, 1024, C.DEFAULT_COLLATION_ID, "varchar(1024)"),
}
# arrays / maps / structs serialize as JSON-ish text
_OTHER = (C.MYSQL_TYPE_VAR_STRING, 4096, C.DEFAULT_COLLATION_ID, "text")


def mysql_type_for(dt_: T.DataType) -> tuple[int, int, int]:
    """Spark type → (mysql type code, display length, charset)."""
    return _TYPES.get(type(dt_), _OTHER)[:3]


def mysql_type_name(dt_: T.DataType) -> str:
    """Spark type → MySQL column-type string (DESCRIBE / SHOW CREATE)."""
    if isinstance(dt_, T.DecimalType):
        return f"decimal({dt_.precision},{dt_.scale})"
    return _TYPES.get(type(dt_), _OTHER)[3]


def columns_of(schema: T.StructType) -> list[tuple[str, int, int, int]]:
    """Schema → (name, type code, display length, charset) per column."""
    return [(f.name, *mysql_type_for(f.dataType)) for f in schema.fields]


def text_columns(names: list[str]) -> list[tuple[str, int, int, int]]:
    """Plain string columns: locally built result sets and PREPARE's
    parameter definitions."""
    return [(name, C.MYSQL_TYPE_VAR_STRING, 255, C.DEFAULT_COLLATION_ID)
            for name in names]


def definition_payloads(columns, capability: int, status: int) -> list[bytes]:
    """Column definition packets, then the EOF that closes them."""
    return [
        *(packets.column_definition(name, code, charset=charset, column_length=length)
          for name, code, length, charset in columns),
        packets.eof_packet(capability, status),
    ]


def header_payloads(columns, capability: int, status: int) -> list[bytes]:
    """Column count, column definitions and their EOF: the head of a
    result set (a cursor's EXECUTE answer is the head alone)."""
    b = packets.Buffer()
    b.write_lenenc_int(len(columns))
    return [b.getvalue(), *definition_payloads(columns, capability, status)]


def frame(columns, rows, capability: int, status: int):
    """The one result-set framer: header, the encoded ``rows`` payloads,
    then EOF, lazily."""
    yield from header_payloads(columns, capability, status)
    yield from rows
    yield packets.eof_packet(capability, status)


def encode_value(v: object) -> bytes | None:
    """Python value → text-protocol bytes (None → NULL marker)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"1" if v else b"0"
    if isinstance(v, (int, Decimal)):
        return str(v).encode()
    if isinstance(v, float):
        return repr(v).encode()
    if isinstance(v, bytes):
        return v
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f" if v.microsecond else "%Y-%m-%d %H:%M:%S").encode()
    if isinstance(v, dt.date):
        return v.isoformat().encode()
    if isinstance(v, (list, tuple)):
        return ("[" + ",".join((encode_value(x) or b"NULL").decode() for x in v) + "]").encode()
    return str(v).encode()


def text_rows(rows):
    """Rows → text-protocol row packets."""
    for row in rows:
        yield packets.text_row([encode_value(v) for v in row])


def binary_rows(df: DataFrame, columns):
    """``df``'s rows → binary-protocol row packets, lazily: the rows of
    an EXECUTE result set, or of an open cursor drained by FETCH."""
    from tidb_gateway_spark.gateway import prepared  # prepared imports this module

    codes = [code for _, code, _, _ in columns]
    for row in df.toLocalIterator():
        yield prepared.encode_binary_row(list(row), codes)


def resultset_payloads(df: DataFrame, capability: int, status: int):
    """Text-protocol result set of ``df`` (COM_QUERY), lazily."""
    yield from frame(columns_of(df.schema), text_rows(df.toLocalIterator()),
                     capability, status)


def binary_resultset_payloads(df: DataFrame, capability: int, status: int):
    """Binary-protocol result set of ``df`` (COM_STMT_EXECUTE), lazily."""
    columns = columns_of(df.schema)
    yield from frame(columns, binary_rows(df, columns), capability, status)


def write_simple_resultset(pio, columns: list[str], rows: list[list[object]],
                           capability: int, status: int) -> None:
    """Locally built result set (SHOW ..., SELECT @@var, ...)."""
    for p in frame(text_columns(columns), text_rows(rows), capability, status):
        pio.write_packet(p)
