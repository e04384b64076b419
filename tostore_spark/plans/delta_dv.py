"""Delta Lake deletion-vector decoding — read-side support for
merge-on-read Delta tables, with NO Delta library.

Everything here derives from the PUBLIC Delta protocol spec
(delta-io/delta PROTOCOL.md, "Deletion Vectors" + the "Deletion Vector
Format" appendix) and the public RoaringBitmap interoperable
serialization spec (RoaringBitmap/RoaringFormatSpec):

- An ``add`` action may carry a ``deletionVector`` descriptor:
  ``{storageType: 'i'|'u'|'p', pathOrInlineDv, offset?, sizeInBytes,
  cardinality}``.  The vector marks ROW POSITIONS (0-based physical
  row indexes within the data file) that are deleted.
- ``'i'``: ``pathOrInlineDv`` is the serialized bitmap itself, encoded
  with Base85 using the RFC 1924 alphabet (= Python's ``base64.b85*``).
- ``'u'``: ``pathOrInlineDv`` is ``<optional random prefix><20-char
  Base85 uuid>``; the vector lives in
  ``<table>/<prefix>/deletion_vector_<uuid>.bin`` at ``offset``.
- ``'p'``: an absolute path to the ``.bin`` file.
- The ``.bin`` file layout: a format-version byte (1), then per
  stored vector: ``<size: int32 BE><data: size bytes><crc32 of data:
  int32 BE>`` — ``offset`` points at the size field.
- The serialized bitmap ("RoaringBitmapArray", portable): ``<magic
  1681511377: int32 LE><number of 32-bit bitmaps: int64 LE>`` then per
  bitmap ``<key: int32 LE><standard 32-bit RoaringBitmap portable
  serialization>``; a set bit means row ``key << 32 | value32``.
- 32-bit RoaringBitmap portable format (RoaringFormatSpec): cookie
  12346 (no run containers, followed by int32 container count, offsets
  header always present) or 12347 (run containers; container count in
  the cookie's upper 16 bits minus 1, run-marker bitset follows,
  offsets header present only for >= 4 containers); then per container
  a ``(key: uint16, cardinality-1: uint16)`` descriptive pair; then
  container payloads in order — array (sorted uint16s), bitmap
  (8 KiB bitset), or run (``n_runs`` then ``(start, length)`` uint16
  pairs).

Every structural surprise raises — a half-understood deletion vector
silently un-deleting rows is exactly the wrong-rows hazard the
``read_delta`` protocol gate exists to prevent.
"""
from __future__ import annotations

import base64
import os
import struct
import uuid as _uuid
import zlib

from tostore_spark.fs import local_path

__all__ = ["decode_deletion_vector", "dv_file_name",
           "encode_bitmap_array", "inline_descriptor",
           "make_descriptor", "write_dv_file"]

#: descriptors above this ride a ``deletion_vector_<uuid>.bin`` sidecar
#: ('u' storage) instead of inflating the JSON log (the spec's own
#: guidance: inline for small vectors only)
INLINE_MAX_BYTES = 32 * 1024

_MAGIC = 1681511377
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE_RUN = 12347
#: driver-side bound on total decoded positions per table read — DV
#: cardinality is |deleted rows|, the same O(delta) class as the
#: store's own broadcast key frames, but a runaway table should refuse
#: rather than exhaust the driver
MAX_TOTAL_POSITIONS = 20_000_000


def _parse_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Parse one 32-bit RoaringBitmap at ``buf[pos:]``; returns
    (values, next_pos)."""
    # unsigned: a signed read would make (cookie >> 16) + 1 negative
    # for bitmaps with >= 32769 containers and silently parse zero
    # containers (the trailing-bytes check then raises misleadingly)
    (cookie,) = struct.unpack_from("<I", buf, pos)
    low = cookie & 0xFFFF
    if low == _SERIAL_COOKIE_RUN:
        n_cont = (cookie >> 16) + 1
        pos += 4
        run_bits = buf[pos:pos + (n_cont + 7) // 8]
        pos += (n_cont + 7) // 8
        has_offsets = n_cont >= 4
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n_cont,) = struct.unpack_from("<i", buf, pos + 4)
        pos += 8
        run_bits = b""
        has_offsets = True
    else:
        raise ValueError(f"unknown roaring cookie {cookie}")
    keys, cards = [], []
    for i in range(n_cont):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        keys.append(k)
        cards.append(cm1 + 1)
        pos += 4
    if has_offsets:
        pos += 4 * n_cont          # sequential parse: offsets unused
    out: list[int] = []
    for i in range(n_cont):
        base = keys[i] << 16
        card = cards[i]
        is_run = bool(run_bits) and bool(run_bits[i // 8] >> (i % 8) & 1)
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", buf, pos)
                pos += 4
                out.extend(base | v for v in
                           range(start, start + length + 1))
        elif card > 4096:
            bits = buf[pos:pos + 8192]
            pos += 8192
            for byte_i, b in enumerate(bits):
                while b:
                    low_bit = b & (-b)
                    out.append(base | (byte_i << 3)
                               | low_bit.bit_length() - 1)
                    b ^= low_bit
        else:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            out.extend(base | v for v in vals)
    return out, pos


def _parse_bitmap_array(data: bytes) -> list[int]:
    """Serialized RoaringBitmapArray → sorted row positions."""
    if len(data) < 12:
        raise ValueError("deletion vector too short")
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != _MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic} "
                         f"(want {_MAGIC})")
    (n_maps,) = struct.unpack_from("<q", data, 4)
    pos = 12
    out: list[int] = []
    for _ in range(n_maps):
        (key,) = struct.unpack_from("<i", data, pos)
        pos += 4
        vals, pos = _parse_roaring32(data, pos)
        hi = key << 32
        out.extend(hi | v for v in vals)
    if pos != len(data):
        raise ValueError(
            f"deletion vector has {len(data) - pos} trailing bytes")
    return sorted(out)


def encode_bitmap_array(positions) -> bytes:
    """Sorted-deduped row positions → serialized RoaringBitmapArray
    (the exact format ``_parse_bitmap_array`` reads): array containers
    up to 4096 values, bitmap containers above — the write side of the
    export's deletion-vector commits.  Round-trip with the parser is
    pinned by pytest alongside the hand-computed byte fixtures."""
    from collections import defaultdict
    by64: dict = defaultdict(lambda: defaultdict(list))
    for v in sorted(set(int(x) for x in positions)):
        if v < 0:
            raise ValueError(f"negative row position {v}")
        by64[v >> 32][(v >> 16) & 0xFFFF].append(v & 0xFFFF)
    out = [struct.pack("<i", _MAGIC), struct.pack("<q", len(by64))]
    for k64, conts in sorted(by64.items()):
        out.append(struct.pack("<i", k64))
        n = len(conts)
        out.append(struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, n))
        for k16, vals in sorted(conts.items()):
            out.append(struct.pack("<HH", k16, len(vals) - 1))
        offs, data_parts = [], []
        cur = 8 + 8 * n
        for k16, vals in sorted(conts.items()):
            offs.append(struct.pack("<I", cur))
            if len(vals) > 4096:
                bits = bytearray(8192)
                for v in vals:
                    bits[v >> 3] |= 1 << (v & 7)
                d = bytes(bits)
            else:
                d = struct.pack(f"<{len(vals)}H", *vals)
            data_parts.append(d)
            cur += len(d)
        out += offs + data_parts
    return b"".join(out)


def inline_descriptor(positions) -> dict:
    """Positions → an inline ('i') deletionVector descriptor for an
    add action: the serialized bitmap rides the log itself (Base85,
    RFC 1924 alphabet), no sidecar file — the right shape for the
    O(deleted-rows) vectors an incremental export commits."""
    data = encode_bitmap_array(positions)
    return {"storageType": "i",
            "pathOrInlineDv": base64.b85encode(data).decode("ascii"),
            "sizeInBytes": len(data),
            "cardinality": len(set(int(x) for x in positions))}


def write_dv_file(table_path: str, positions) -> dict:
    """Positions → an on-disk ('u') descriptor: a fresh
    ``deletion_vector_<uuid>.bin`` under the table root with the spec
    framing (format-version byte, then ``<size BE><data><crc32 BE>``
    at offset 1).  Never overwrites — the uuid names a new file per
    vector, exactly how Delta writers keep old versions readable."""
    data = encode_bitmap_array(positions)
    u = _uuid.uuid4()
    fpath = os.path.join(table_path, f"deletion_vector_{u}.bin")
    tmp = fpath + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(b"\x01")
        fh.write(struct.pack(">i", len(data)))
        fh.write(data)
        fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    os.replace(tmp, fpath)
    return {"storageType": "u",
            "pathOrInlineDv": base64.b85encode(u.bytes).decode("ascii"),
            "offset": 1, "sizeInBytes": len(data),
            "cardinality": len(set(int(x) for x in positions))}


def make_descriptor(table_path: str, positions) -> dict:
    """Inline for small vectors, sidecar file above INLINE_MAX_BYTES."""
    d = inline_descriptor(positions)
    if d["sizeInBytes"] > INLINE_MAX_BYTES:
        return write_dv_file(table_path, positions)
    return d


def dv_file_name(table_path: str, path_or_inline: str) -> str:
    """Resolve a storageType='u' descriptor to its .bin path: the LAST
    20 chars Base85-decode to the 16-byte uuid, anything before them is
    a directory prefix under the table root."""
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    u = _uuid.UUID(bytes=base64.b85decode(enc))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(table_path, prefix, name) if prefix \
        else os.path.join(table_path, name)


def decode_deletion_vector(table_path: str, dv: dict) -> list[int]:
    """Descriptor → sorted deleted row positions.  Verifies size,
    checksum (on-disk vectors) and cardinality; any mismatch raises."""
    st = dv.get("storageType")
    size = int(dv["sizeInBytes"])
    if st == "i":
        data = base64.b85decode(dv["pathOrInlineDv"])
        if len(data) != size:
            raise ValueError(
                f"inline deletion vector is {len(data)} bytes, "
                f"descriptor says {size}")
    elif st in ("u", "p"):
        fpath = local_path(dv["pathOrInlineDv"] if st == "p"
                           else dv_file_name(table_path,
                                             dv["pathOrInlineDv"]))
        off = int(dv.get("offset") or 0)
        with open(fpath, "rb") as fh:
            fh.seek(off)
            (stored_size,) = struct.unpack(">i", fh.read(4))
            if stored_size != size:
                raise ValueError(
                    f"deletion vector at {fpath}:{off} is "
                    f"{stored_size} bytes, descriptor says {size}")
            data = fh.read(size)
            (crc,) = struct.unpack(">i", fh.read(4))
        if zlib.crc32(data) & 0xFFFFFFFF != crc & 0xFFFFFFFF:
            raise ValueError(
                f"deletion vector checksum mismatch at {fpath}:{off}")
    else:
        raise ValueError(f"unknown deletion-vector storageType {st!r}")
    vals = _parse_bitmap_array(data)
    card = int(dv.get("cardinality", -1))
    if card >= 0 and card != len(vals):
        raise ValueError(
            f"deletion vector decoded {len(vals)} positions, "
            f"descriptor cardinality says {card}")
    return vals
