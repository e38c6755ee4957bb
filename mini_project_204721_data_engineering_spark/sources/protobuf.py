"""Clean-room Protocol Buffers wire-format source/sink — varint-delimited
record streams ("length-prefixed" / ``writeDelimitedTo`` framing), the
shape protobuf event logs land in object storage.

Written from the PUBLIC encoding spec (protobuf.dev/programming-guides/
encoding): varints, ZigZag, the four live wire types (0 varint,
1 i64, 2 len, 5 i32), packed repeated scalars, nested messages, and
the format's defining behavior — UNKNOWN fields are skipped by wire
type, not errors.  No google.protobuf dependency anywhere (that
package is absent in this environment, which is exactly when a
dependency-free decoder earns its keep).

The caller declares the schema as ``{field_number: (name, type)}`` or
``(name, type, opts)`` with type in {int64, sint64, bool, double,
float, string, bytes, message} and opts ``{"repeated": True}`` /
``{"schema": {...}}`` for nested messages: the caller declares the
contract, nothing is inferred.
Groups (wire types 3/4, deprecated since proto2) refuse loudly.

Distributed shape: ``binaryFile`` lists the shard directory, each task
decodes ONE shard in bounded row chunks via ``mapInPandas`` — shard
bytes never visit the driver (the Avro/NetCDF posture).
"""

from __future__ import annotations

import io
import re
import struct
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "read_protobuf", "write_protobuf_shard",
    "decode_stream", "iter_stream", "encode_record",
    "parse_proto_schema",
]

_SCALARS = {
    "int64": "long", "sint64": "long", "bool": "boolean",
    "double": "double", "float": "float",
    "string": "string", "bytes": "binary",
}


def _norm_schema(schema: Mapping[int, tuple]) -> dict[int, dict]:
    out = {}
    for num, spec in schema.items():
        if not isinstance(num, int) or num < 1:
            raise ValueError(f"field number must be a positive int, got {num!r}")
        name, typ = spec[0], spec[1]
        opts = dict(spec[2]) if len(spec) > 2 else {}
        if typ == "message":
            if "schema" not in opts:
                raise ValueError(f"field {name}: message type needs opts['schema']")
            opts["schema"] = _norm_schema(opts["schema"])
        elif typ not in _SCALARS:
            raise ValueError(
                f"field {name}: unsupported type {typ!r} "
                f"(supported: {sorted(_SCALARS)} + message)"
            )
        out[num] = {"name": name, "type": typ, "repeated": bool(opts.get("repeated")),
                    "schema": opts.get("schema")}
    names = [f["name"] for f in out.values()]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate field names in schema: {names}")
    return out


def _spark_ddl(schema: dict[int, dict]) -> str:
    parts = []
    for num in sorted(schema):
        f = schema[num]
        if f["type"] == "message":
            inner = _spark_ddl(f["schema"])
            t = f"struct<{inner}>"
        else:
            t = _SCALARS[f["type"]]
        if f["repeated"]:
            t = f"array<{t}>"
        parts.append(f"{f['name']}:{t}")
    return ",".join(parts)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    for shift in range(0, 70, 7):
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            if shift == 63 and b > 1:
                raise ValueError("varint exceeds 64 bits")
            return result, pos
    raise ValueError("varint exceeds 10 bytes")


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _decode_value(typ: str, wire: int, buf: bytes, pos: int, sub) -> tuple[object, int]:
    if typ in ("int64", "sint64", "bool"):
        if wire != 0:
            raise ValueError(f"wire type {wire} for varint field")
        raw, pos = _read_varint(buf, pos)
        if typ == "bool":
            return bool(raw), pos
        return (_zigzag(raw) if typ == "sint64" else _signed64(raw)), pos
    if typ == "double":
        if wire != 1:
            raise ValueError(f"wire type {wire} for double field")
        if pos + 8 > len(buf):
            raise ValueError("truncated i64 value")
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if typ == "float":
        if wire != 5:
            raise ValueError(f"wire type {wire} for float field")
        if pos + 4 > len(buf):
            raise ValueError("truncated i32 value")
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    # len-delimited: string / bytes / message
    if wire != 2:
        raise ValueError(f"wire type {wire} for length-delimited field")
    ln, pos = _read_varint(buf, pos)
    if pos + ln > len(buf):
        raise ValueError("length-delimited value overruns the message")
    chunk = buf[pos:pos + ln]
    pos += ln
    if typ == "string":
        try:
            return chunk.decode("utf-8"), pos
        except UnicodeDecodeError as e:
            raise ValueError(f"invalid UTF-8 in string field: {e}") from e
    if typ == "bytes":
        return bytes(chunk), pos
    return _decode_message(chunk, sub), pos  # nested message


def _skip_unknown(wire: int, buf: bytes, pos: int) -> int:
    if wire == 0:
        _, pos = _read_varint(buf, pos)
        return pos
    if wire == 1:
        if pos + 8 > len(buf):
            raise ValueError("truncated unknown i64 field")
        return pos + 8
    if wire == 5:
        if pos + 4 > len(buf):
            raise ValueError("truncated unknown i32 field")
        return pos + 4
    if wire == 2:
        ln, pos = _read_varint(buf, pos)
        if pos + ln > len(buf):
            raise ValueError("unknown length-delimited field overruns")
        return pos + ln
    raise NotImplementedError(
        f"protobuf group wire type {wire} (deprecated proto2 groups) is not "
        "supported — re-serialize without groups"
    )


def _merge_message(old: dict, new: dict, schema: dict[int, dict]) -> dict:
    """Spec semantics for a non-repeated MESSAGE field seen twice: the
    occurrences MERGE — later scalars overwrite, nested messages merge
    recursively, repeated fields concatenate (the
    concatenate-two-serializations idiom depends on this)."""
    out = dict(old)
    by_name = {f["name"]: f for f in schema.values()}
    for k, v in new.items():
        f = by_name[k]
        if f["repeated"]:
            out[k] = (old.get(k) or []) + (v or [])
        elif f["type"] == "message" and isinstance(old.get(k), dict) and isinstance(v, dict):
            out[k] = _merge_message(old[k], v, f["schema"])
        elif v is not None:
            out[k] = v
    return out


def _decode_message(buf: bytes, schema: dict[int, dict]) -> dict:
    row = {
        f["name"]: ([] if f["repeated"] else None) for f in schema.values()
    }
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        num, wire = tag >> 3, tag & 7
        f = schema.get(num)
        if f is None:
            pos = _skip_unknown(wire, buf, pos)
            continue
        typ = f["type"]
        if f["repeated"] and wire == 2 and typ in ("int64", "sint64", "bool", "double", "float"):
            # packed repeated scalars: one len-delimited run of values —
            # decoded against the RUN's slice so a value crossing the
            # declared end raises instead of eating the next field
            ln, pos = _read_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("packed field overruns the message")
            run = buf[pos:pos + ln]
            pos += ln
            inner_wire = 1 if typ == "double" else (5 if typ == "float" else 0)
            rpos = 0
            while rpos < len(run):
                v, rpos = _decode_value(typ, inner_wire, run, rpos, f["schema"])
                row[f["name"]].append(v)
            continue
        v, pos = _decode_value(typ, wire, buf, pos, f["schema"])
        if f["repeated"]:
            row[f["name"]].append(v)
        elif typ == "message" and isinstance(row[f["name"]], dict):
            row[f["name"]] = _merge_message(row[f["name"]], v, f["schema"])
        else:
            row[f["name"]] = v  # proto3 scalars: last occurrence wins
    return row


def iter_stream(data: bytes, schema: Mapping[int, tuple]):
    """Generator over a varint-delimited record stream — ONE decoded dict
    in flight at a time, so consumers (the distributed reader's chunk
    loop) hold chunk-sized Python state, not the whole shard's.  Corrupt
    framing raises ValueError naming the byte offset."""
    sch = _norm_schema(schema)
    pos = 0
    while pos < len(data):
        start = pos
        try:
            ln, pos = _read_varint(data, pos)
            if pos + ln > len(data):
                raise ValueError("record overruns the stream")
            rec = _decode_message(data[pos:pos + ln], sch)
            pos += ln
        except ValueError as e:
            raise ValueError(f"corrupt protobuf record at byte {start}: {e}") from e
        yield rec


def decode_stream(data: bytes, schema: Mapping[int, tuple]) -> list[dict]:
    """Eager form of :func:`iter_stream` (driver-side / test primitive)."""
    return list(iter_stream(data, schema))


# ---------------------------------------------------------------------------
# encode (tests + shard emission)
# ---------------------------------------------------------------------------

def _write_varint(out: io.BytesIO, v: int) -> None:
    if not -(1 << 63) <= v < (1 << 64):
        # an out-of-range python int would emit a >10-byte varint the
        # decoder (rightly) rejects — refuse at WRITE time instead of
        # producing an unreadable shard
        raise ValueError(f"varint value {v} outside the 64-bit range")
    if v < 0:
        v += 1 << 64  # two's complement on 64 bits (int64 negatives)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _encode_message(rec: Mapping, schema: dict[int, dict]) -> bytes:
    out = io.BytesIO()
    for num in sorted(schema):
        f = schema[num]
        v = rec.get(f["name"])
        if v is None:
            continue
        vals = v if f["repeated"] else [v]
        for item in vals:
            typ = f["type"]
            if typ in ("int64", "sint64", "bool"):
                _write_varint(out, num << 3 | 0)
                if typ == "bool":
                    _write_varint(out, 1 if item else 0)
                elif typ == "sint64":
                    _write_varint(out, (item << 1) ^ (item >> 63))
                else:
                    _write_varint(out, item)
            elif typ == "double":
                _write_varint(out, num << 3 | 1)
                out.write(struct.pack("<d", item))
            elif typ == "float":
                _write_varint(out, num << 3 | 5)
                out.write(struct.pack("<f", item))
            else:
                payload = (
                    item.encode("utf-8") if typ == "string"
                    else bytes(item) if typ == "bytes"
                    else _encode_message(item, f["schema"])
                )
                _write_varint(out, num << 3 | 2)
                _write_varint(out, len(payload))
                out.write(payload)
    return out.getvalue()


def encode_record(rec: Mapping, schema: Mapping[int, tuple]) -> bytes:
    return _encode_message(rec, _norm_schema(schema))


def write_protobuf_shard(records: Sequence[Mapping], path: str,
                         schema: Mapping[int, tuple]) -> None:
    """One varint-delimited shard — the round-trip half."""
    sch = _norm_schema(schema)
    with open(path, "wb") as fh:
        buf = io.BytesIO()
        for rec in records:
            msg = _encode_message(rec, sch)
            _write_varint(buf, len(msg))
            buf.write(msg)
        fh.write(buf.getvalue())


# ---------------------------------------------------------------------------
# .proto schema parser
# ---------------------------------------------------------------------------
# Real protobuf landings ship a .proto file; hand-transcribing field
# numbers into the {field_number: (name, type)} contract is the
# error-prone step this parser absorbs.  Written from the PUBLIC
# language spec (protobuf.dev/programming-guides/proto3 and /proto2):
# a recursive-descent parser over the message/field/repeated/nested/
# enum/oneof/map subset, refusing LOUDLY on everything whose semantics
# this reader cannot honor:
#
# - ``import`` (needs a file resolver — inline the imported messages),
# - ``extend`` / ``extensions`` (proto2 extensions),
# - ``group`` (deprecated wire types 3/4, same refusal as the decoder),
# - ``uint64`` (the decoder surfaces varints as SIGNED 64-bit; values
#   above 2^63−1 would silently wrap — re-model as int64/sint64/bytes),
# - ``fixed32/64`` / ``sfixed32/64`` (the decoder reads wire types 1/5
#   as IEEE float/double only),
# - recursive message types (the flat dict contract cannot express a
#   cycle — same refusal as the Avro reader's named-type cycles).
#
# What it accepts maps exactly onto the existing decode semantics:
# ``oneof`` members are plain nullable singular fields on the wire;
# ``map<K,V>`` is sugar for ``repeated message {1: key, 2: value}``
# (spec: "Backwards compatibility" section of the maps guide); enums
# are open varints and surface as int64 (unknown values preserved);
# field options like ``[packed=true]`` are accepted and ignored because
# the decoder handles packed and unpacked runs interchangeably; proto2
# ``[default=...]`` is accepted but NOT materialized — absent fields
# stay null: the declared contract, nothing inferred.

_PROTO_SCALARS = {
    "int32": "int64", "int64": "int64", "uint32": "int64",
    "sint32": "sint64", "sint64": "sint64",
    "bool": "bool", "double": "double", "float": "float",
    "string": "string", "bytes": "bytes",
}
_PROTO_REFUSED_TYPES = {
    "uint64": "decoder surfaces varints as signed 64-bit; uint64 values "
              "above 2^63-1 would wrap — re-model as int64/sint64 or bytes",
    "fixed64": "decoder reads wire type 1 as double only",
    "sfixed64": "decoder reads wire type 1 as double only",
    "fixed32": "decoder reads wire type 5 as float only",
    "sfixed32": "decoder reads wire type 5 as float only",
}
_MAP_KEY_TYPES = {"int32", "int64", "uint32", "sint32", "sint64", "bool", "string"}

_PROTO_TOKEN = re.compile(
    r'"(?:[^"\\\n]|\\.)*"'      # double-quoted string
    r"|'(?:[^'\\\n]|\\.)*'"     # single-quoted string
    r"|\.?[A-Za-z_][A-Za-z0-9_.]*"  # (possibly dotted / leading-dot) ident
    r"|-?\d+(?:\.\d+)?"         # int / float literal
    r"|[{}=;<>,\[\]()]"         # punctuation
    r"|\S"                      # anything else -> rejected in next()
)


class _ProtoParser:
    """Single-file .proto text → {field_number: (name, type, opts)}."""

    def __init__(self, text: str):
        # strip comments WITHOUT corrupting string literals: '//' inside
        # a quoted string (option go_package = "example.com//gen") is
        # content, not a comment — match strings first and keep them
        def _keep_or_blank(m: "re.Match") -> str:
            return m.group(1) if m.group(1) is not None else " "

        _tok = (
            r"(\"(?:[^\"\\\n]|\\.)*\"|'(?:[^'\\\n]|\\.)*')"  # string: group 1
            r"|//[^\n]*|/\*.*?\*/"                           # comment
        )
        stripped = re.sub(_tok, _keep_or_blank, text, flags=re.S)
        # unterminated-comment check must ignore '/*' INSIDE kept string
        # literals ("x/*y" is content): probe with strings blanked too
        if "/*" in re.sub(_tok, " ", text, flags=re.S):
            raise ValueError("unterminated /* comment in .proto")
        self.toks = _PROTO_TOKEN.findall(stripped)
        self.pos = 0

    # -- token plumbing ----------------------------------------------------
    def peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self, raw: bool = False) -> str:
        """``raw=True`` (the skip paths) accepts ANY token — aggregate
        option values like ``{ foo: 1 }`` legitimately contain ':' and
        other punctuation this grammar never binds meaning to."""
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of .proto text")
        if (
            not raw
            and len(t) == 1
            and not (t.isalnum() or t == "_")
            and t not in "{}=;<>,[]()"
        ):
            raise ValueError(f"unexpected character {t!r} in .proto")
        self.pos += 1
        return t

    def expect(self, tok: str) -> str:
        t = self.next()
        if t != tok:
            raise ValueError(f"expected {tok!r}, got {t!r} in .proto")
        return t

    def _skip_to_semicolon(self) -> None:
        depth = 0
        while True:
            t = self.next(raw=True)
            if t in "{(":
                depth += 1
            elif t in "})":
                depth -= 1
            elif t == ";" and depth == 0:
                return

    def _skip_block(self) -> None:
        self.expect("{")
        depth = 1
        while depth:
            t = self.next(raw=True)
            if t == "{":
                depth += 1
            elif t == "}":
                depth -= 1

    # -- grammar -----------------------------------------------------------
    def parse_file(self) -> dict:
        """Returns the root scope: {name: message-node | "enum"}."""
        root: dict = {}
        while (t := self.peek()) is not None:
            if t == "syntax":
                self.next(); self.expect("=")
                syn = self.next().strip("\"'")
                self.expect(";")
                if syn not in ("proto2", "proto3"):
                    raise ValueError(f"unsupported syntax {syn!r}")
            elif t == "package":
                self._skip_to_semicolon()
            elif t == "option":
                self._skip_to_semicolon()
            elif t == "import":
                raise NotImplementedError(
                    ".proto imports are not supported (no file resolver) — "
                    "inline the imported message definitions"
                )
            elif t in ("extend",):
                raise NotImplementedError(
                    f"proto2 {t!r} (extensions) is not supported"
                )
            elif t == "service":
                self.next(); self.next()  # RPC-only, no data schema impact
                self._skip_block()
            elif t == "message":
                node = self.parse_message()
                if node["name"] in root:
                    raise ValueError(f"duplicate top-level name {node['name']!r}")
                root[node["name"]] = node
            elif t == "enum":
                name = self.parse_enum()
                if name in root:
                    raise ValueError(f"duplicate top-level name {name!r}")
                root[name] = "enum"
            elif t == ";":
                self.next()
            else:
                raise ValueError(f"unexpected token {t!r} at .proto top level")
        return root

    def parse_enum(self) -> str:
        self.expect("enum")
        name = self.next()
        self.expect("{")
        while (t := self.peek()) != "}":
            if t is None:
                raise ValueError("unterminated enum block")
            if t in ("option", "reserved"):
                self._skip_to_semicolon()
            elif t == ";":
                self.next()
            else:
                self.next()  # VALUE
                self.expect("=")
                self.next()  # number
                if self.peek() == "[":
                    self._skip_options()
                self.expect(";")
        self.next()
        return name

    def _skip_options(self) -> None:
        self.expect("[")
        depth = 1
        while depth:
            t = self.next(raw=True)
            if t == "[":
                depth += 1
            elif t == "]":
                depth -= 1

    def parse_message(self) -> dict:
        self.expect("message")
        name = self.next()
        node = {"name": name, "fields": [], "nested": {}}
        self.expect("{")
        while (t := self.peek()) != "}":
            if t is None:
                raise ValueError(f"unterminated message {name!r}")
            if t == "message":
                sub = self.parse_message()
                if sub["name"] in node["nested"]:
                    raise ValueError(
                        f"duplicate nested name {sub['name']!r} in {name!r}"
                    )
                node["nested"][sub["name"]] = sub
            elif t == "enum":
                ename = self.parse_enum()
                if ename in node["nested"]:
                    raise ValueError(f"duplicate nested name {ename!r} in {name!r}")
                node["nested"][ename] = "enum"
            elif t in ("option", "reserved"):
                self._skip_to_semicolon()
            elif t == "oneof":
                # wire-identical to plain nullable singular fields
                self.next(); self.next()
                self.expect("{")
                while self.peek() != "}":
                    if self.peek() == "option":
                        self._skip_to_semicolon()
                        continue
                    node["fields"].append(self.parse_field(label_allowed=False))
                self.next()
            elif t in ("extensions", "extend"):
                raise NotImplementedError(
                    f"proto2 {t!r} is not supported (extensions)"
                )
            elif t == "group":
                raise NotImplementedError(
                    "proto2 groups (wire types 3/4) are not supported — "
                    "same refusal as the decoder"
                )
            elif t == ";":
                self.next()
            else:
                node["fields"].append(self.parse_field(label_allowed=True))
        self.next()
        return node

    def parse_field(self, label_allowed: bool) -> dict:
        repeated = False
        label = None
        t = self.peek()
        if t in ("repeated", "optional", "required"):
            if not label_allowed:
                raise ValueError(f"label {t!r} not allowed inside oneof")
            label = t
            repeated = t == "repeated"
            self.next()
            t = self.peek()
        if t == "group":
            raise NotImplementedError(
                "proto2 groups (wire types 3/4) are not supported"
            )
        if t == "map":
            if label is not None:
                raise ValueError(
                    f"{label!r} is not allowed on map fields (a map is "
                    "already a repeated entry message)"
                )
            if not label_allowed:
                # protoc rejects map (and repeated) fields inside oneof —
                # a map is sugar for a repeated entry message, and oneof
                # members must be singular
                raise ValueError("map fields are not allowed inside oneof")
            self.next()
            self.expect("<")
            ktype = self.next()
            self.expect(",")
            vtype = self.next()
            self.expect(">")
            if ktype not in _MAP_KEY_TYPES:
                raise ValueError(f"invalid map key type {ktype!r}")
            ftype: object = ("map", ktype, vtype)
        else:
            ftype = self.next()
        fname = self.next()
        self.expect("=")
        numtok = self.next()
        if not numtok.isdigit():
            raise ValueError(f"field {fname!r}: bad field number {numtok!r}")
        num = int(numtok)
        # the wire format's legal range: 1..2^29-1, minus the range the
        # descriptor reserves for protocol implementations — protoc
        # rejects these, so accepting them would decode against schemas
        # no real protobuf stack can produce
        if not 1 <= num <= 536870911:
            raise ValueError(
                f"field {fname!r}: field number {num} outside the legal "
                "range 1..536870911"
            )
        if 19000 <= num <= 19999:
            raise ValueError(
                f"field {fname!r}: field number {num} is in the reserved "
                "range 19000..19999"
            )
        if self.peek() == "[":
            self._skip_options()  # packed / deprecated / default: no-ops here
        self.expect(";")
        return {"name": fname, "type": ftype, "num": num, "repeated": repeated}


def _resolve_type_name(
    name: str, scopes: list[dict]
) -> tuple[object, list[dict]]:
    """Protobuf scoping (the protoc C++ rule): the FIRST path component
    is resolved innermost scope outward, and that binding is final — if
    the remaining components fail under it, resolution FAILS rather
    than backtracking to an outer scope (backtracking would silently
    accept files protoc rejects, binding to a different type).  A
    leading '.' anchors at the root.  Returns ``(node, enclosing)``
    where ``enclosing`` is the resolved node's OWN ancestor chain —
    type names INSIDE a cross-scope referenced message must resolve
    against where that message LIVES, not against the referencing
    field's scope (shadowing would otherwise silently rebind them)."""
    if name.startswith("."):
        paths: list[list[dict]] = [scopes[:1]]
        name = name[1:]
    else:
        paths = [scopes[: i + 1] for i in range(len(scopes) - 1, -1, -1)]
    parts = name.split(".")
    for chain in paths:
        table = chain[-1]["nested"]
        node: object = table.get(parts[0])
        if node is None:
            continue
        enclosing = list(chain)
        for p in parts[1:]:
            if node == "enum" or p not in node["nested"]:
                raise ValueError(
                    f"unresolved type name {name!r} in .proto: "
                    f"{parts[0]!r} binds in an enclosing scope but has no "
                    f"nested {p!r} (protobuf does not backtrack past the "
                    "first matching component)"
                )
            enclosing.append(node)
            node = node["nested"][p]
        return node, enclosing
    raise ValueError(f"unresolved type name {name!r} in .proto")


def _message_to_contract(node: dict, scopes: list[dict], open_msgs: tuple) -> dict:
    """AST message node → the {field_number: (name, type, opts)} contract,
    refusing recursive message types (the flat contract cannot express a
    cycle — the Avro reader's open_names posture)."""
    if any(m is node for m in open_msgs):
        raise ValueError(
            f"recursive message type {node['name']!r} is not supported — "
            "the schema contract is a finite tree; flatten the recursion "
            "or model the self-reference as bytes"
        )
    out: dict[int, tuple] = {}
    seen_names: set[str] = set()
    for f in node["fields"]:
        if f["num"] in out:
            raise ValueError(
                f"duplicate field number {f['num']} in message {node['name']!r}"
            )
        if f["name"] in seen_names:
            raise ValueError(
                f"duplicate field name {f['name']!r} in message {node['name']!r}"
            )
        seen_names.add(f["name"])
        t = f["type"]
        if isinstance(t, tuple):  # map<K,V>: repeated {1: key, 2: value}
            _, ktype, vtype = t
            entry = {
                "name": "MapEntry", "nested": {},
                "fields": [
                    {"name": "key", "type": ktype, "num": 1, "repeated": False},
                    {"name": "value", "type": vtype, "num": 2, "repeated": False},
                ],
            }
            sub = _message_to_contract(
                entry, scopes + [node], open_msgs + (node,)
            )
            out[f["num"]] = (f["name"], "message",
                             {"repeated": True, "schema": sub})
            continue
        if t in _PROTO_REFUSED_TYPES:
            raise NotImplementedError(
                f"field {f['name']!r}: proto type {t!r} is not supported — "
                f"{_PROTO_REFUSED_TYPES[t]}"
            )
        if t in _PROTO_SCALARS:
            typ = _PROTO_SCALARS[t]
            opts = {"repeated": True} if f["repeated"] else {}
            out[f["num"]] = (f["name"], typ, opts) if opts else (f["name"], typ)
            continue
        resolved, resolved_scopes = _resolve_type_name(t, scopes + [node])
        if resolved == "enum":
            # open enums are varints on the wire; unknown values preserved
            opts = {"repeated": True} if f["repeated"] else {}
            out[f["num"]] = (f["name"], "int64", opts) if opts \
                else (f["name"], "int64")
            continue
        # the sub-contract builds under the RESOLVED node's own ancestor
        # chain — its internal type names mean what they mean where it
        # was defined, not where it was referenced from
        sub = _message_to_contract(
            resolved, resolved_scopes, open_msgs + (node,)
        )
        opts = {"schema": sub}
        if f["repeated"]:
            opts["repeated"] = True
        out[f["num"]] = (f["name"], "message", opts)
    return out


def parse_proto_schema(
    text: str, message: str | None = None
) -> Mapping[int, tuple]:
    """Parse single-file proto2/proto3 text into the reader's
    ``{field_number: (name, type[, opts])}`` contract for ``message``
    (dotted paths reach nested messages; None is allowed when the file
    has exactly one top-level message).  The result plugs directly into
    :func:`read_protobuf` / :func:`decode_stream` /
    :func:`write_protobuf_shard`.  See the section comment above for
    the accepted subset and the loud refusals (imports, extensions,
    groups, uint64/fixed*/sfixed*, recursive messages)."""
    root = _ProtoParser(text).parse_file()
    root_node = {"name": "<root>", "fields": [], "nested": root}
    messages = {k: v for k, v in root.items() if v != "enum"}
    if message is None:
        if len(messages) != 1:
            raise ValueError(
                f"message= is required: .proto defines {sorted(messages) or 'no'}"
                " top-level messages"
            )
        node = next(iter(messages.values()))
        enclosing = [root_node]
    else:
        node = root_node
        enclosing = []
        for part in message.split("."):
            enclosing.append(node)
            if not isinstance(node["nested"].get(part), dict):
                raise ValueError(f"message {message!r} not found in .proto")
            node = node["nested"][part]
    contract = _message_to_contract(node, enclosing, ())
    _norm_schema(contract)  # final validation through the reader's own gate
    return contract


# ---------------------------------------------------------------------------
# distributed read
# ---------------------------------------------------------------------------

def read_protobuf(
    spark: SparkSession,
    dir_path: str,
    schema: Mapping[int, tuple],
    pattern: str = "*.pb",
    chunk_rows: int = 20_000,
) -> DataFrame:
    """Distributed varint-delimited protobuf scan → DataFrame with the
    declared schema.  One shard per task; rows surface in
    ``chunk_rows`` pandas batches so task memory stays bounded by chunk
    size + shard bytes."""
    import pandas as pd

    sch = _norm_schema(schema)
    # top level is "name type, ..."; nested structs keep the colon form
    top = []
    for num in sorted(sch):
        f = sch[num]
        t = (
            f"struct<{_spark_ddl(f['schema'])}>" if f["type"] == "message"
            else _SCALARS[f["type"]]
        )
        if f["repeated"]:
            t = f"array<{t}>"
        top.append(f"{f['name']} {t}")
    ddl = ", ".join(top)
    names = [sch[num]["name"] for num in sorted(sch)]

    def worker(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                shard = row["path"].rsplit("/", 1)[-1]
                chunk: list[dict] = []
                try:
                    # generator decode: at most chunk_rows decoded dicts
                    # in flight on top of the raw shard bytes
                    for rec in iter_stream(bytes(row["content"]), schema):
                        chunk.append(rec)
                        if len(chunk) >= chunk_rows:
                            yield pd.DataFrame(
                                {n: [r[n] for r in chunk] for n in names}
                            )
                            chunk = []
                except ValueError as e:
                    raise ValueError(f"shard {shard}: {e}") from e
                if chunk:
                    yield pd.DataFrame({n: [r[n] for r in chunk] for n in names})

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(dir_path)
        .select("path", "content")
        .mapInPandas(worker, ddl)
    )
