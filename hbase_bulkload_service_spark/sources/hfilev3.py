"""Real Apache HFile **version 3** byte format — writer + verifying reader.

This is the adoption-fidelity container behind H1/H7 (SURVEY.md §2): the
reference hands its output to ``LoadIncrementalHFiles`` (reference
``controller/HBaseController.java:232-254``, ``HFileOutputUtil.java:17-39``),
which adopts files in the on-disk format HBase's ``HFile.Reader`` parses.
Where ``sources/hfile.py`` writes the LAYOUT contract (sorted,
per-region, non-overlapping) as parquet, this module emits the
actual v3 structure, byte-for-byte per the public format (Apache HBase
``HFileBlock`` / ``FixedFileTrailer`` / ``HFileWriterImpl`` — all
public-source knowledge):

  scanned section     DATA blocks ("DATABLK*", 33-byte v2/v3 header,
                      CRC chunk checksums after the payload)
  load-on-open        root data index ("IDXROOT2"), meta index
                      (same block type, zero entries), file info
                      ("FILEINF2": PBUF magic + delimited FileInfoProto)
  trailer             4096 bytes fixed for v3: "TRABLK\\"$" magic +
                      delimited FileTrailerProto + zero padding +
                      version word (major=3 | minor=3 << 24)

Choices within the format (all valid HFiles):
- ``compression`` NONE, GZ, or SNAPPY (trailer codec ordinals 2 / 1 /
  3). SNAPPY is the reference DDL's own codec
  (``HBaseManager.java:381``): raw snappy chunks from pyarrow's codec
  under Hadoop's BlockCompressorStream framing (see the Snappy codec
  section).
- ``encoding`` NONE or DIFF: DIFF writes ENCODED_DATA blocks
  ("DATABLKE", 2-byte encoding id 4) whose payload is the
  ``DiffKeyDeltaEncoder`` stream — per-cell flag byte, compressed-int
  key/value lengths, flat-key common-prefix delta, little-endian
  fit-in-bytes timestamps (optionally as a diff vs the previous cell),
  family written once per block — exactly the public encoder HBase's
  ``DataBlockEncoding.DIFF`` selects (the reference's table DDL turns it
  on, ``HBaseManager.java:379-385``). Announced via the
  ``DATA_BLOCK_ENCODING`` FileInfo key, as HBase does.
- ``bloom=True`` writes a ROW compound bloom: BLOOM_CHUNK blocks
  ("BLMFBLK2") inline in the scanned section, one GENERAL_BLOOM_META
  block ("BLMFMET2") in load-on-open (version 3, double-hashed Hadoop
  MurmurHash ``hash1 + i*hash2`` bit positions, a single-level root
  index over the chunks — ``CompoundBloomFilterWriter.MetaWriter``'s
  layout), plus the ``BLOOM_FILTER_TYPE=ROW`` FileInfo key. One
  divergence, documented: chunks are sized to their ACTUAL key count at
  the target error rate instead of allocate-128KiB-then-fold — the
  reader derives bit size from the chunk payload length either way, so
  any HBase reader probes the same bits.
- ``checksumType=CRC32`` (type byte 1; HBase supports CRC32 and CRC32C,
  zlib provides CRC32 bit-exactly).
- cells carry no tags and no mvcc (``includesTags=false``,
  ``includesMvcc=false`` — the bulk-load writer's configuration), so a
  cell is the classic KeyValue: keyLen(4) valueLen(4) rowLen(2) row
  famLen(1) family qualifier timestamp(8) type(1=Put:4) value.
- one- or two-level block index: a single-level root (what HBase writes
  until the root chunk overflows 128 KiB; entries are (offset u64,
  onDiskSizeWithHeader u32, vint-prefixed first key)), or — with
  ``index_chunk_entries`` set — inline LEAF_INDEX blocks in HBase's
  non-root format (entry count, secondary-offset array, raw-key
  entries) with the root pointing at the leaves
  (``num_data_index_levels=2``, the shape a multi-GB region file needs
  so the load-on-open root stays small).

The protobuf wire encoding (needed for FileInfo + trailer) is emitted by
a ~30-line varint encoder — no protobuf dependency.
"""

from __future__ import annotations

import bisect
import json
import mmap
import os
import struct
import zlib
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import functions as F

from hbase_bulkload_service_spark.session import local_frame
from hbase_bulkload_service_spark.sources import hfile

# --- pinned v3 layout constants (Apache HBase public format) --------------
BLOCK_MAGIC_DATA = b"DATABLK*"
BLOCK_MAGIC_ROOT_INDEX = b"IDXROOT2"
BLOCK_MAGIC_LEAF_INDEX = b"IDXLEAF2"
BLOCK_MAGIC_FILE_INFO = b"FILEINF2"
TRAILER_MAGIC = b'TRABLK"$'
HEADER_SIZE = 33  # HConstants.HFILEBLOCK_HEADER_SIZE (v2/v3, with checksums)
TRAILER_SIZE_V3 = 4096  # FixedFileTrailer.computeTrailerSizeByVersion()[3]
MAJOR_VERSION = 3
MINOR_VERSION = 3  # HFileReaderImpl.PBUF_TRAILER_MINOR_VERSION
VERSION_WORD = (MAJOR_VERSION & 0x00FFFFFF) | (MINOR_VERSION << 24)
CHECKSUM_CRC32 = 1  # ChecksumType.CRC32 code
BYTES_PER_CHECKSUM = 16384  # HConstants.DEFAULT_BYTES_PER_CHECKSUM
COMPRESSION_GZ_ORDINAL = 1  # Compression.Algorithm ordinals: LZO,GZ,NONE,..
COMPRESSION_NONE_ORDINAL = 2
COMPRESSION_SNAPPY_ORDINAL = 3  # ...,SNAPPY,LZ4,BZIP2,ZSTD
COMPRESSION_ORDINALS = {
    "GZ": COMPRESSION_GZ_ORDINAL,
    "NONE": COMPRESSION_NONE_ORDINAL,
    "SNAPPY": COMPRESSION_SNAPPY_ORDINAL,
}
ORDINAL_CODECS = {v: k for k, v in COMPRESSION_ORDINALS.items()}
KEYVALUE_TYPE_PUT = 4  # KeyValue.Type.Put code
COMPARATOR = b"org.apache.hadoop.hbase.CellComparatorImpl"
PB_MAGIC = b"PBUF"  # ProtobufMagic.PB_MAGIC (file-info block prefix)
DEFAULT_BLOCK_SIZE = 65536  # HConstants.DEFAULT_BLOCKSIZE

FILEINFO_RESERVED_PREFIX = b"hfile."
FI_LASTKEY = b"hfile.LASTKEY"
FI_AVG_KEY_LEN = b"hfile.AVG_KEY_LEN"
FI_AVG_VALUE_LEN = b"hfile.AVG_VALUE_LEN"
FI_CREATE_TIME_TS = b"hfile.CREATE_TIME_TS"
# non-reserved FileInfo keys HBase's writer adds for these features
FI_DATA_BLOCK_ENCODING = b"DATA_BLOCK_ENCODING"  # HFileDataBlockEncoderImpl
FI_BLOOM_FILTER_TYPE = b"BLOOM_FILTER_TYPE"  # StoreFileWriter

# DIFF data block encoding (DataBlockEncoding.DIFF / DiffKeyDeltaEncoder)
BLOCK_MAGIC_ENCODED_DATA = b"DATABLKE"  # BlockType.ENCODED_DATA
DATA_BLOCK_ENCODING_DIFF_ID = 4  # DataBlockEncoding.DIFF.getId()
_DIFF_SAME_KEY_LEN = 1  # DiffKeyDeltaEncoder.FLAG_SAME_KEY_LENGTH
_DIFF_SAME_VALUE_LEN = 1 << 1
_DIFF_SAME_TYPE = 1 << 2
_DIFF_TS_IS_DIFF = 1 << 3  # FLAG_TIMESTAMP_IS_DIFF
_DIFF_MASK_TS_LEN = (1 << 4) | (1 << 5) | (1 << 6)
_DIFF_SHIFT_TS_LEN = 4
_DIFF_TS_SIGN = 1 << 7  # FLAG_TIMESTAMP_SIGN

# ROW compound bloom (BloomFilterFactory / CompoundBloomFilterWriter)
BLOCK_MAGIC_BLOOM_CHUNK = b"BLMFBLK2"  # BlockType.BLOOM_CHUNK
BLOCK_MAGIC_BLOOM_META = b"BLMFMET2"  # BlockType.GENERAL_BLOOM_META
BLOOM_VERSION = 3  # CompoundBloomFilterBase.VERSION
BLOOM_HASH_TYPE_MURMUR = 1  # Hash.MURMUR_HASH
BLOOM_ERROR_RATE = 0.01  # io.storefile.bloom.error.rate default
# bits/key at the ideal sizing: -ln(err)/ln(2)^2; k = ceil(bits/key * ln 2)
_BLOOM_BITS_PER_KEY = 9.58505  # 4.60517 / 0.4804530139182014
BLOOM_HASH_COUNT = 7  # ByteBloomFilter.optimalFunctionCount at that sizing
# keys per chunk from the 128 KiB io.storefile.bloom.block.size hint
BLOOM_CHUNK_MAX_KEYS = int(131072 * 8 / _BLOOM_BITS_PER_KEY)


# --- protobuf wire + Hadoop vint encoders ----------------------------------

def _pb_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _pb_field_varint(field: int, value: int) -> bytes:
    return _pb_varint(field << 3 | 0) + _pb_varint(value)


def _pb_field_bytes(field: int, value: bytes) -> bytes:
    return _pb_varint(field << 3 | 2) + _pb_varint(len(value)) + value


def _pb_read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift, val = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _pb_decode(buf: bytes) -> dict[int, list]:
    """Minimal wire decoder: field -> list of raw values (ints for
    wiretype 0, bytes for wiretype 2)."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = _pb_read_varint(buf, pos)
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            v, pos = _pb_read_varint(buf, pos)
        elif wt == 2:
            ln, pos = _pb_read_varint(buf, pos)
            v = buf[pos : pos + ln]
            pos += ln
        else:
            raise AssertionError(f"unexpected wiretype {wt}")
        out.setdefault(field, []).append(v)
    return out


def _hadoop_vlong(i: int) -> bytes:
    """Hadoop WritableUtils.writeVLong (used by Bytes.writeByteArray for
    the index-entry key length)."""
    if -112 <= i <= 127:
        return bytes([i & 0xFF])
    ln = -112
    if i < 0:
        i ^= -1
        ln = -120
    tmp = i
    while tmp != 0:
        tmp >>= 8
        ln -= 1
    out = bytearray([ln & 0xFF])
    ln = -(ln + 120) if ln < -120 else -(ln + 112)
    for idx in range(ln, 0, -1):
        out.append((i >> ((idx - 1) * 8)) & 0xFF)
    return bytes(out)


def _read_hadoop_vlong(buf: bytes, pos: int) -> tuple[int, int]:
    first = struct.unpack_from("b", buf, pos)[0]
    pos += 1
    if first >= -112:
        return first, pos
    ln = -(first + 112) if first >= -120 else -(first + 120)
    neg = first < -120
    val = 0
    for _ in range(ln):
        val = (val << 8) | buf[pos]
        pos += 1
    return (val ^ -1 if neg else val), pos


def _root_entries_payload(entries: list[tuple[int, int, bytes]]) -> bytes:
    """HBase's root index entry format, shared by the data index and the
    bloom meta's chunk index: (offset i64, onDiskSizeWithHeader i32,
    vint-prefixed first key) per entry."""
    return b"".join(
        struct.pack(">qi", off, odwh) + _hadoop_vlong(len(key)) + key
        for off, odwh, key in entries
    )


def _parse_root_entries(
    payload: bytes, pos: int, count: int
) -> tuple[list[tuple[int, int, bytes]], int]:
    """Read ``count`` root index entries from ``pos``; returns (entries,
    position after the last one)."""
    entries = []
    for _ in range(count):
        off, odwh = struct.unpack_from(">qi", payload, pos)
        klen, pos = _read_hadoop_vlong(payload, pos + 12)
        entries.append((off, odwh, payload[pos : pos + klen]))
        pos += klen
    return entries, pos


# --- cell (KeyValue) codec --------------------------------------------------

def encode_cell_key(row: bytes, family: bytes, qualifier: bytes, ts: int) -> bytes:
    """The KeyValue 'key' part: rowLen(2) row famLen(1) family qualifier
    ts(8) type(1)."""
    return (
        struct.pack(">H", len(row))
        + row
        + struct.pack("B", len(family))
        + family
        + qualifier
        + struct.pack(">q", ts)
        + struct.pack("B", KEYVALUE_TYPE_PUT)
    )


def decode_cell_key(key: bytes) -> tuple[bytes, bytes, bytes, int, int]:
    (rl,) = struct.unpack_from(">H", key, 0)
    row = key[2 : 2 + rl]
    fl = key[2 + rl]
    o = 3 + rl
    fam = key[o : o + fl]
    o += fl
    qual = key[o : -9]
    (ts,) = struct.unpack_from(">q", key, len(key) - 9)
    typ = key[-1]
    return row, fam, qual, ts, typ


def _encode_keyvalue(key: bytes, value: bytes) -> bytes:
    return struct.pack(">II", len(key), len(value)) + key + value


def _cell_order(row: bytes, fam: bytes, qual: bytes, ts: int) -> tuple:
    """HBase CellComparator sort key: row, family, qualifier ascending
    byte-lex (each compared AS A FIELD — the serialized key's length
    prefixes make raw key-byte order differ from cell order when field
    lengths vary), then timestamp DESCENDING."""
    return (row, fam, qual, -ts)


# --- Hadoop MurmurHash + ROW bloom bit math ---------------------------------

def _jint(x: int) -> int:
    """Wrap to Java 32-bit signed int semantics."""
    x &= 0xFFFFFFFF
    return x - 0x100000000 if x >= 0x80000000 else x


def _sbyte(b: int) -> int:
    """Java signed byte (sign-extended on int promotion)."""
    return b - 256 if b >= 128 else b


def _murmur2_java(data: bytes, seed: int) -> int:
    """Bit-exact port of Hadoop/HBase ``MurmurHash.hash(byte[], int)``
    (org.apache.hadoop.util.hash.MurmurHash — the ``Hash.MURMUR_HASH``
    HBase blooms default to). Faithful to the JAVA port, including its
    sign-extension of tail bytes (which diverges from Appleby's original
    for tail bytes >= 0x80). Golden-tested against the actual Hadoop
    class through the Spark JVM gateway (tests/test_hfilev3.py)."""
    m = 0x5BD1E995
    r = 24
    h = _jint(seed ^ len(data))
    len4 = len(data) >> 2
    for i in range(len4):
        i4 = i << 2
        k = _sbyte(data[i4 + 3])
        k = (k << 8) | data[i4 + 2]
        k = (k << 8) | data[i4 + 1]
        k = (k << 8) | data[i4]
        k = _jint(k)
        k = _jint(k * m)
        k = _jint(k ^ ((k & 0xFFFFFFFF) >> r))
        k = _jint(k * m)
        h = _jint(h * m)
        h = _jint(h ^ k)
    left = len(data) - (len4 << 2)
    if left != 0:
        if left >= 3:
            h = _jint(h ^ (_sbyte(data[-3]) << 16))
        if left >= 2:
            h = _jint(h ^ (_sbyte(data[-2]) << 8))
        h = _jint(h ^ _sbyte(data[-1]))
        h = _jint(h * m)
    h = _jint(h ^ ((h & 0xFFFFFFFF) >> 13))
    h = _jint(h * m)
    h = _jint(h ^ ((h & 0xFFFFFFFF) >> 15))
    return h


def _bloom_bit_positions(key: bytes, bit_size: int, hash_count: int = BLOOM_HASH_COUNT):
    """``BloomFilterUtil.contains``'s probe positions: double hashing
    ``abs((hash1 + i*hash2) % bitSize)`` in Java int arithmetic (the %
    keeps the dividend's sign; overflow wraps at 32 bits)."""
    h1 = _murmur2_java(key, 0)
    h2 = _murmur2_java(key, h1)
    for i in range(hash_count):
        h = _jint(h1 + _jint(i * h2))
        r = h % bit_size if h >= 0 else -((-h) % bit_size)
        yield abs(r)


def _bloom_chunk_payload(rows: list[bytes]) -> bytes:
    """One BLOOM_CHUNK bitmap sized for its actual key count at
    BLOOM_ERROR_RATE (``ByteBloomFilter.computeBitSize``), LSB-first bit
    order as in ``BloomFilterUtil``."""
    import math

    bit_size = max(1, math.ceil(len(rows) * _BLOOM_BITS_PER_KEY))
    byte_size = (bit_size + 7) // 8
    bits = bytearray(byte_size)
    for row in rows:
        for loc in _bloom_bit_positions(row, byte_size * 8):
            bits[loc >> 3] |= 1 << (loc & 7)
    return bytes(bits)


def _bloom_payload_contains(payload: bytes, row: bytes) -> bool:
    bit_size = len(payload) * 8
    return all(
        payload[loc >> 3] & (1 << (loc & 7))
        for loc in _bloom_bit_positions(row, bit_size)
    )


def _bloom_meta_payload(
    chunks: list[tuple[int, int, bytes]], total_bytes: int, key_count: int
) -> bytes:
    """``CompoundBloomFilterWriter.MetaWriter.write``: version, total
    byte size, hash count, hash type, key count, max keys, chunk count,
    a null comparator byte-array (vint 0 — ROW blooms pass no
    comparator), then the single-level root index over the chunks
    (offset i64, onDiskSizeWithHeader i32, vint-prefixed first key)."""
    out = bytearray()
    out += struct.pack(">i", BLOOM_VERSION)
    out += struct.pack(">q", total_bytes)
    out += struct.pack(">i", BLOOM_HASH_COUNT)
    out += struct.pack(">i", BLOOM_HASH_TYPE_MURMUR)
    out += struct.pack(">q", key_count)
    out += struct.pack(">q", key_count)  # maxKeys (chunks sized-to-fit)
    out += struct.pack(">i", len(chunks))
    out += _hadoop_vlong(0)  # Bytes.writeByteArray(null)
    out += _root_entries_payload(chunks)
    return bytes(out)


def _parse_bloom_meta(payload: bytes) -> dict:
    (version,) = struct.unpack_from(">i", payload, 0)
    if version != BLOOM_VERSION:
        raise AssertionError(f"bloom meta version {version} != {BLOOM_VERSION}")
    (total_bytes,) = struct.unpack_from(">q", payload, 4)
    hash_count, hash_type = struct.unpack_from(">ii", payload, 12)
    key_count, max_keys = struct.unpack_from(">qq", payload, 20)
    (num_chunks,) = struct.unpack_from(">i", payload, 36)
    if hash_type != BLOOM_HASH_TYPE_MURMUR:
        raise AssertionError(f"unsupported bloom hash type {hash_type}")
    comp_len, pos = _read_hadoop_vlong(payload, 40)
    pos += comp_len  # comparator class name (empty for ROW blooms)
    chunks, pos = _parse_root_entries(payload, pos, num_chunks)
    if pos != len(payload):
        raise AssertionError("bloom meta has trailing bytes")
    return {
        "total_bytes": total_bytes,
        "hash_count": hash_count,
        "key_count": key_count,
        "max_keys": max_keys,
        "chunks": chunks,
    }


def _bloom_contains(data: bytes, bloom: dict, row: bytes, codec: str) -> bool:
    """CompoundBloomFilter.contains: root-index the chunk whose first
    key is the last one <= row, load just that chunk, probe its bits."""
    chunks = bloom["chunks"]
    first_rows = [c[2] for c in chunks]
    ci = bisect.bisect_right(first_rows, row) - 1
    if ci < 0:
        return False  # row sorts before every chunk — cannot be present
    payload, odwh, _, _ = _parse_block(
        data, chunks[ci][0], BLOCK_MAGIC_BLOOM_CHUNK, codec
    )
    if odwh != chunks[ci][1]:
        raise AssertionError("bloom index onDiskSize disagrees for a chunk")
    return _bloom_payload_contains(payload, row)


# --- DIFF data block encoding (DiffKeyDeltaEncoder) --------------------------

def _long_fits_in(v: int) -> int:
    """ByteBufferUtils.longFitsIn — bytes needed for a non-negative long
    (8 for negatives)."""
    if v < 0:
        return 8
    n = 1
    while n < 8 and v >= (1 << (8 * n)):
        n += 1
    return n


def _put_long_le(v: int, n: int) -> bytes:
    """ByteBufferUtils.putLong — LITTLE-endian, low ``n`` bytes."""
    return bytes((v >> (8 * i)) & 0xFF for i in range(n))


def _read_long_le(buf: bytes, pos: int, n: int) -> int:
    return sum(buf[pos + i] << (8 * i) for i in range(n))


def _diff_common_prefix(key: bytes, prev: bytes) -> int:
    """``PrivateCellUtil.findCommonPrefixInFlatKey(cell, prev, True,
    False)``: common bytes over the flat key EXCLUDING ts+type, with the
    family-length byte + family bytes counted common without comparison
    once the row fully matches (bypassFamilyCheck — one HFile holds one
    family). When row lengths differ, only the shared prefix of the
    2-byte length shorts is common."""
    (rl1,) = struct.unpack_from(">H", key, 0)
    (rl2,) = struct.unpack_from(">H", prev, 0)
    if rl1 != rl2:
        return 1 if key[0] == prev[0] else 0
    common = 2
    i = 0
    while i < rl1 and key[2 + i] == prev[2 + i]:
        i += 1
    common += i
    if i == rl1:
        fl = key[2 + rl1]
        common += 1 + fl  # famLen byte + family, bypassed
        qs = 3 + rl1 + fl
        q1, q2 = key[qs:-9], prev[qs:-9]
        j = 0
        lim = min(len(q1), len(q2))
        while j < lim and q1[j] == q2[j]:
            j += 1
        common += j
    return common


def _diff_encode_block(cells: list[tuple[bytes, bytes]]) -> bytes:
    """Encode one block's (flat key, value) cells as the DIFF stream:
    2-byte encoding id, then the first cell prefixed by famLen+family
    (written once per block), then per-cell flag / compressed-int
    lengths / common-prefix key delta / fit-in-bytes timestamp (diff'd
    against the previous cell when smaller) — byte-for-byte
    ``DiffKeyDeltaEncoder.compressSingleKeyValue``."""
    out = bytearray(struct.pack(">H", DATA_BLOCK_ENCODING_DIFF_ID))
    prev_key = prev_val = None
    prev_ts = prev_typ = None
    block_fam = None
    for key, value in cells:
        (rl,) = struct.unpack_from(">H", key, 0)
        fl = key[2 + rl]
        fam = key[3 + rl : 3 + rl + fl]
        (ts,) = struct.unpack_from(">q", key, len(key) - 9)
        typ = key[-1]
        flag = 0
        if prev_key is None:
            block_fam = fam
            t = ts
            if t < 0:
                flag |= _DIFF_TS_SIGN
                t = -t
            fits = _long_fits_in(t)
            flag |= (fits - 1) << _DIFF_SHIFT_TS_LEN
            out += bytes([fl]) + fam
            out += bytes([flag])
            out += _pb_varint(len(key))  # putCompressedInt == this varint
            out += _pb_varint(len(value))
            out += _pb_varint(0)
            out += key[0 : 2 + rl]  # rowLen short + row
            out += key[3 + rl + fl : -9]  # qualifier
            out += _put_long_le(t, fits)
            out += bytes([typ])  # SAME_TYPE can't be set on the first cell
            out += value
        else:
            if fam != block_fam:
                raise AssertionError(
                    "DIFF block encoding requires a single column family"
                )
            common = _diff_common_prefix(key, prev_key)
            if len(key) == len(prev_key):
                flag |= _DIFF_SAME_KEY_LEN
            if len(value) == len(prev_val):
                flag |= _DIFF_SAME_VALUE_LEN
            if typ == prev_typ:
                flag |= _DIFF_SAME_TYPE
            neg_ts = ts < 0
            t = -ts if neg_ts else ts
            tfits = _long_fits_in(t)
            diff = prev_ts - ts
            neg_diff = diff < 0
            d = -diff if neg_diff else diff
            dfits = _long_fits_in(d)
            if dfits < tfits:
                flag |= (dfits - 1) << _DIFF_SHIFT_TS_LEN
                flag |= _DIFF_TS_IS_DIFF
                if neg_diff:
                    flag |= _DIFF_TS_SIGN
                ts_out, ts_fits = d, dfits
            else:
                flag |= (tfits - 1) << _DIFF_SHIFT_TS_LEN
                if neg_ts:
                    flag |= _DIFF_TS_SIGN
                ts_out, ts_fits = t, tfits
            out += bytes([flag])
            if not flag & _DIFF_SAME_KEY_LEN:
                out += _pb_varint(len(key))
            if not flag & _DIFF_SAME_VALUE_LEN:
                out += _pb_varint(len(value))
            out += _pb_varint(common)
            if common < 2 + rl:
                # row remainder (incl. any rowLen-short bytes) + FULL
                # qualifier — family is never re-written
                out += key[common : 2 + rl]
                out += key[3 + rl + fl : -9]
            else:
                # common covers row + family; qualifier remainder only
                out += key[common : -9]
            out += _put_long_le(ts_out, ts_fits)
            if not flag & _DIFF_SAME_TYPE:
                out += bytes([typ])
            out += value
        prev_key, prev_val, prev_ts, prev_typ = key, value, ts, typ
    return bytes(out)


def _diff_decode_block(payload: bytes) -> list[tuple[bytes, bytes]]:
    """Decode a DIFF ENCODED_DATA payload back to (flat key, value)
    cells — the mirror of :func:`_diff_encode_block` (what HBase's
    ``DiffKeyDeltaEncoder.createSeeker`` walks)."""
    (enc_id,) = struct.unpack_from(">H", payload, 0)
    if enc_id != DATA_BLOCK_ENCODING_DIFF_ID:
        raise AssertionError(f"encoding id {enc_id} != DIFF")
    pos = 2
    fl = payload[pos]
    pos += 1
    fam = payload[pos : pos + fl]
    pos += fl
    cells: list[tuple[bytes, bytes]] = []
    prev_key = None
    prev_klen = prev_vlen = prev_ts = prev_typ = None
    while pos < len(payload):
        flag = payload[pos]
        pos += 1
        if flag & _DIFF_SAME_KEY_LEN:
            klen = prev_klen
        else:
            klen, pos = _pb_read_varint(payload, pos)
        if flag & _DIFF_SAME_VALUE_LEN:
            vlen = prev_vlen
        else:
            vlen, pos = _pb_read_varint(payload, pos)
        common, pos = _pb_read_varint(payload, pos)
        kb = bytearray()
        if common >= 2:
            kb += prev_key[:common]
        elif common == 1:
            kb.append(prev_key[0])
            kb.append(payload[pos])
            pos += 1
        else:
            kb += payload[pos : pos + 2]
            pos += 2
        (rl,) = struct.unpack_from(">H", kb, 0)
        if common < 2 + rl:
            take = 2 + rl - len(kb)
            kb += payload[pos : pos + take]
            pos += take
            kb.append(fl)
            kb += fam
            qlen = klen - 9 - 2 - rl - 1 - fl
            if qlen < 0:
                raise AssertionError("DIFF cell qualifier length negative")
            kb += payload[pos : pos + qlen]
            pos += qlen
        else:
            take = klen - 9 - common
            if take < 0:
                raise AssertionError("DIFF common prefix exceeds key")
            kb += payload[pos : pos + take]
            pos += take
        ts_len = ((flag & _DIFF_MASK_TS_LEN) >> _DIFF_SHIFT_TS_LEN) + 1
        raw = _read_long_le(payload, pos, ts_len)
        pos += ts_len
        if flag & _DIFF_TS_IS_DIFF:
            if flag & _DIFF_TS_SIGN:
                raw = -raw
            ts = prev_ts - raw
        else:
            ts = -raw if flag & _DIFF_TS_SIGN else raw
        if flag & _DIFF_SAME_TYPE:
            typ = prev_typ
        else:
            typ = payload[pos]
            pos += 1
        key = bytes(kb) + struct.pack(">q", ts) + bytes([typ])
        if len(key) != klen:
            raise AssertionError("DIFF-decoded key length disagrees")
        value = payload[pos : pos + vlen]
        pos += vlen
        cells.append((key, value))
        prev_key, prev_klen, prev_vlen = key, klen, vlen
        prev_ts, prev_typ = ts, typ
    if pos != len(payload):
        raise AssertionError("DIFF block has trailing bytes")
    return cells


# --- block framing ----------------------------------------------------------

def _gzip_compress(payload: bytes) -> bytes:
    """java.util.zip.GZIPOutputStream-compatible gzip stream (the GZ
    codec's on-disk bytes are a standard gzip member; any conforming
    gzip decodes it — readers never compare compressed bytes)."""
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(payload) + co.flush()


# --- Snappy codec -----------------------------------------------------------
#
# The reference ships SNAPPY HFiles (bulkload/HFileOutputUtil.java:23,
# manager/HBaseManager.java:381). HBase's SNAPPY codec writes each block
# in Hadoop's BlockCompressorStream framing: a 4-byte BE uncompressed
# length, then one or more [4-byte BE compressed length][raw snappy
# chunk]. pyarrow's snappy codec makes and reads the raw chunks.
# Compressed bytes are never compared across implementations (same
# contract as GZ).

_SNAPPY_HADOOP_BUFFER = 256 * 1024  # io.compression.codec.snappy.buffersize


def _snappy_hadoop_compress(payload: bytes) -> bytes:
    """Hadoop BlockCompressorStream framing over raw snappy chunks."""
    out = bytearray()
    for s in range(0, max(len(payload), 1), _SNAPPY_HADOOP_BUFFER):
        block = payload[s : s + _SNAPPY_HADOOP_BUFFER]
        raw = pa.compress(block, codec="snappy", asbytes=True)
        out += struct.pack(">II", len(block), len(raw)) + raw
    return bytes(out)


def _snappy_hadoop_decompress(disk: bytes) -> bytes:
    """Read the framing back: each frame's chunks must add up to its
    uncompressed length; a chunk is sized from its own varint32
    preamble."""
    out = bytearray()
    pos = 0
    while pos < len(disk):
        (ulen,) = struct.unpack_from(">I", disk, pos)
        pos += 4
        got = 0
        while got < ulen or (ulen == 0 and got == 0):
            (clen,) = struct.unpack_from(">I", disk, pos)
            pos += 4
            raw = disk[pos : pos + clen]
            pos += clen
            n, _ = _pb_read_varint(raw, 0)
            if got + n > ulen:
                raise AssertionError("snappy chunk length exceeds the frame's ulen")
            out += pa.decompress(
                raw, decompressed_size=n, codec="snappy", asbytes=True
            )
            got += n
            if ulen == 0:
                break
    return bytes(out)


def _compress_payload(payload: bytes, codec: str) -> bytes:
    if codec == "GZ":
        return _gzip_compress(payload)
    if codec == "SNAPPY":
        return _snappy_hadoop_compress(payload)
    return payload


def _decompress_payload(disk_payload: bytes, codec: str) -> bytes:
    """Decode one block's on-disk payload; a codec's own fault (a
    payload that passed its checksum but does not decode) is an
    AssertionError like every other reader check."""
    try:
        if codec == "GZ":
            return zlib.decompress(disk_payload, 16 + zlib.MAX_WBITS)
        if codec == "SNAPPY":
            return _snappy_hadoop_decompress(disk_payload)
    except (OSError, zlib.error, struct.error, IndexError) as e:
        raise AssertionError(f"{codec} payload does not decode: {e}") from None
    return disk_payload


def _write_block(
    out, magic: bytes, payload: bytes, prev_offset: int, codec: str
) -> tuple[int, int, int]:
    """Write one v2/v3 block (33-byte header, payload compressed by
    ``codec``, then CRC32 chunk checksums over header + on-disk
    payload). Returns (offset, on_disk_size_with_header,
    uncompressed_size_with_header)."""
    offset = out.tell()
    disk_payload = _compress_payload(payload, codec)
    on_disk_data_with_header = HEADER_SIZE + len(disk_payload)
    n_chunks = -(-on_disk_data_with_header // BYTES_PER_CHECKSUM)
    on_disk_without_header = len(disk_payload) + 4 * n_chunks
    header = (
        magic
        + struct.pack(">I", on_disk_without_header)
        + struct.pack(">I", len(payload))
        + struct.pack(">q", prev_offset)
        + struct.pack("B", CHECKSUM_CRC32)
        + struct.pack(">I", BYTES_PER_CHECKSUM)
        + struct.pack(">I", on_disk_data_with_header)
    )
    assert len(header) == HEADER_SIZE
    checked = header + disk_payload
    out.write(checked)
    for c in range(n_chunks):
        chunk = checked[c * BYTES_PER_CHECKSUM : (c + 1) * BYTES_PER_CHECKSUM]
        out.write(struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF))
    return offset, HEADER_SIZE + on_disk_without_header, HEADER_SIZE + len(payload)


def _parse_block(data: bytes, offset: int, expect_magic: bytes | None, codec: str):
    """Parse + checksum-verify one block and decompress it by ``codec``;
    returns (payload, on_disk_size_with_header, prev_offset, magic)."""
    hdr = data[offset : offset + HEADER_SIZE]
    if len(hdr) < HEADER_SIZE:
        raise AssertionError("truncated block header")
    magic = hdr[:8]
    if expect_magic is not None and magic != expect_magic:
        raise AssertionError(f"block magic {magic!r} != {expect_magic!r}")
    on_disk_without_header, uncompressed, prev = struct.unpack_from(">IIq", hdr, 8)
    ctype = hdr[24]
    (bpc,) = struct.unpack_from(">I", hdr, 25)
    (odwh,) = struct.unpack_from(">I", hdr, 29)
    if ctype != CHECKSUM_CRC32 or bpc != BYTES_PER_CHECKSUM:
        raise AssertionError("unexpected checksum config")
    disk_payload = data[offset + HEADER_SIZE : offset + odwh]
    n_chunks = -(-odwh // BYTES_PER_CHECKSUM)
    if on_disk_without_header != len(disk_payload) + 4 * n_chunks:
        raise AssertionError("onDiskSizeWithoutHeader disagrees")
    checked = data[offset : offset + odwh]
    csums = data[offset + odwh : offset + odwh + 4 * n_chunks]
    for c in range(n_chunks):
        chunk = checked[c * BYTES_PER_CHECKSUM : (c + 1) * BYTES_PER_CHECKSUM]
        (want,) = struct.unpack_from(">I", csums, 4 * c)
        if zlib.crc32(chunk) & 0xFFFFFFFF != want:
            raise AssertionError(f"CRC mismatch in chunk {c} at offset {offset}")
    payload = _decompress_payload(disk_payload, codec)
    if len(payload) != uncompressed:
        raise AssertionError("uncompressedSizeWithoutHeader disagrees")
    return payload, HEADER_SIZE + on_disk_without_header, prev, magic


# --- writer -----------------------------------------------------------------

def _leaf_index_payload(entries: list[tuple[int, int, bytes]]) -> bytes:
    """HBase non-root index block format: int numEntries, an
    (numEntries+1)-int secondary-offset array (entry start offsets
    relative to the entries blob, plus the end sentinel), then entries
    of (long blockOffset, int onDiskSizeWithHeader, raw key — lengths
    come from the secondary index, no vint prefix)."""
    blob = bytearray()
    offsets = []
    for off, odwh, key in entries:
        offsets.append(len(blob))
        blob += struct.pack(">q", off) + struct.pack(">i", odwh) + key
    offsets.append(len(blob))
    return (
        struct.pack(">i", len(entries))
        + b"".join(struct.pack(">i", o) for o in offsets)
        + bytes(blob)
    )


def _parse_leaf_index(payload: bytes) -> list[tuple[int, int, bytes]]:
    (n,) = struct.unpack_from(">i", payload, 0)
    offs = struct.unpack_from(f">{n + 1}i", payload, 4)
    base = 4 + 4 * (n + 1)
    if base + offs[-1] != len(payload):
        raise AssertionError("leaf index secondary offsets do not close")
    out = []
    for i in range(n):
        o = base + offs[i]
        (boff,) = struct.unpack_from(">q", payload, o)
        (odwh,) = struct.unpack_from(">i", payload, o + 8)
        key = payload[o + 12 : base + offs[i + 1]]
        out.append((boff, odwh, key))
    return out


def write_hfile_v3(
    fname: str,
    cells,
    block_size: int = DEFAULT_BLOCK_SIZE,
    create_time_ts: int = 0,
    compression: str = "NONE",
    index_chunk_entries: int = 0,
    encoding: str = "NONE",
    bloom: bool = False,
    bloom_chunk_max_keys: int = BLOOM_CHUNK_MAX_KEYS,
) -> dict:
    """Write sorted cells ((row, family, qualifier, ts, value) tuples,
    ascending in CellComparator order) as one HFile v3. ``compression``
    is NONE, GZ, or SNAPPY (Compression.Algorithm ordinals 2/1/3 —
    applied to EVERY block's payload, data and load-on-open alike,
    exactly as the file-wide codec works in HBase; SNAPPY is the
    reference DDL's own codec, raw snappy chunks under Hadoop's
    BlockCompressorStream framing). ``index_chunk_entries > 0`` writes
    a TWO-LEVEL index: inline LEAF_INDEX blocks every that-many data
    blocks (HBase's non-root format) with the root pointing at the
    leaves — the shape that keeps the load-on-open root small for
    multi-GB files (HBase switches on a 128 KiB root-chunk bound; an
    explicit entry count keeps tests deterministic); the 2-level root
    carries HBase's 16-byte mid-key metadata after its entries
    (``BlockIndexChunk.getMidKeyMetadata``). ``encoding="DIFF"`` writes
    ENCODED_DATA blocks through :func:`_diff_encode_block`; ``bloom``
    adds the ROW compound bloom (inline BLOOM_CHUNK blocks + a
    GENERAL_BLOOM_META in load-on-open) — together the reference DDL's
    full feature set (``HBaseManager.java:379-385``). Returns summary
    meta (rows, first/last row hex, block count, file size)."""
    if compression not in COMPRESSION_ORDINALS:
        raise ValueError("compression must be NONE, GZ, or SNAPPY")
    if encoding not in ("NONE", "DIFF"):
        raise ValueError("encoding must be NONE or DIFF")
    codec = compression
    diff = encoding == "DIFF"

    # peek the first cell BEFORE creating the file: a refused (empty)
    # write must not leave a zero-byte orphan behind for a later
    # validate/read pass to crash on (ADVICE r05)
    import itertools

    cell_it = iter(cells)
    try:
        first_cell = next(cell_it)
    except StopIteration:
        raise AssertionError("refusing to write an empty HFile") from None
    cell_it = itertools.chain([first_cell], cell_it)

    blocks: list[tuple[int, int, bytes]] = []  # (offset, onDiskWithHeader, first_key)
    n_cells = 0
    key_len_sum = 0
    val_len_sum = 0
    first_row = last_row = None
    last_key = None
    total_uncompressed = 0

    leaves: list[tuple[int, int, bytes]] = []  # (offset, odwh, first key)
    leaf_payload_bytes = 0
    bloom_chunks: list[tuple[int, int, bytes]] = []  # (offset, odwh, first row)
    bloom_total_bytes = 0
    bloom_key_count = 0
    with open(fname, "wb") as out:
        cur_cells: list[tuple[bytes, bytes]] = []
        cur_bytes = 0
        cur_first_key = None
        prev_data_offset = -1
        prev_leaf_offset = -1
        prev_bloom_offset = -1
        pending_leaf: list[tuple[int, int, bytes]] = []
        bloom_rows: list[bytes] = []
        last_bloom_row = None

        def flush_leaf():
            nonlocal pending_leaf, prev_leaf_offset, total_uncompressed
            nonlocal leaf_payload_bytes
            if not pending_leaf:
                return
            payload = _leaf_index_payload(pending_leaf)
            leaf_payload_bytes += len(payload)
            off, odwh, unc = _write_block(
                out, BLOCK_MAGIC_LEAF_INDEX, payload, prev_leaf_offset, codec
            )
            leaves.append((off, odwh, pending_leaf[0][2]))
            prev_leaf_offset = off
            total_uncompressed += unc
            pending_leaf = []

        def flush_bloom():
            nonlocal bloom_rows, prev_bloom_offset, total_uncompressed
            nonlocal bloom_total_bytes
            if not bloom_rows:
                return
            payload = _bloom_chunk_payload(bloom_rows)
            off, odwh, unc = _write_block(
                out, BLOCK_MAGIC_BLOOM_CHUNK, payload, prev_bloom_offset, codec
            )
            bloom_chunks.append((off, odwh, bloom_rows[0]))
            bloom_total_bytes += len(payload)
            prev_bloom_offset = off
            total_uncompressed += unc
            bloom_rows = []

        def flush_data():
            nonlocal cur_cells, cur_bytes, cur_first_key, prev_data_offset
            nonlocal total_uncompressed
            if not cur_cells:
                return
            if diff:
                payload = _diff_encode_block(cur_cells)
                magic = BLOCK_MAGIC_ENCODED_DATA
            else:
                payload = b"".join(
                    _encode_keyvalue(k, v) for k, v in cur_cells
                )
                magic = BLOCK_MAGIC_DATA
            off, odwh, unc = _write_block(
                out, magic, payload, prev_data_offset, codec
            )
            blocks.append((off, odwh, cur_first_key))
            prev_data_offset = off
            total_uncompressed += unc
            cur_cells = []
            cur_bytes = 0
            cur_first_key = None
            if index_chunk_entries > 0:
                pending_leaf.append((off, odwh, blocks[-1][2]))
                if len(pending_leaf) >= index_chunk_entries:
                    flush_leaf()
            # the bloom inline writer gets its chance after each data
            # block, like HBase's InlineBlockWriter cycle
            if bloom and len(bloom_rows) >= bloom_chunk_max_keys:
                flush_bloom()

        last_order = None
        for row, fam, qual, ts, value in cell_it:
            row_b = bytes(row)
            key = encode_cell_key(row_b, bytes(fam), bytes(qual), int(ts))
            order = _cell_order(row_b, bytes(fam), bytes(qual), int(ts))
            if last_order is not None and order < last_order:
                raise AssertionError("HFile v3 input not sorted by cell key")
            last_order = order
            last_key = key
            if cur_first_key is None:
                cur_first_key = key
            cur_cells.append((key, bytes(value)))
            cur_bytes += 8 + len(key) + len(value)
            n_cells += 1
            key_len_sum += len(key)
            val_len_sum += len(value)
            if first_row is None:
                first_row = row_b
            last_row = row_b
            if bloom and row_b != last_bloom_row:
                bloom_rows.append(row_b)
                last_bloom_row = row_b
                bloom_key_count += 1
            if cur_bytes >= block_size:
                flush_data()
        flush_data()
        flush_leaf()  # tail chunk (two-level mode only)
        flush_bloom()  # tail bloom chunk (scanned section ends here)

        # --- load-on-open section ---
        load_on_open_offset = out.tell()
        # root data index: entries point at data blocks (1 level) or at
        # the inline leaf index blocks (2 levels)
        two_level = index_chunk_entries > 0
        root_entries = leaves if two_level else blocks
        idx_payload = bytearray(_root_entries_payload(root_entries))
        if two_level:
            # 16-byte mid-key metadata a multi-level root carries
            # (BlockIndexChunk.getMidKeyMetadata): the leaf holding the
            # middle data block, its on-disk size, and the entry index
            # of that data block within the leaf (ADVICE r05)
            mid_sub = (len(blocks) - 1) // 2
            mid_leaf = mid_sub // index_chunk_entries
            within = mid_sub % index_chunk_entries
            idx_payload += struct.pack(">qii", *leaves[mid_leaf][:2], within)
        _, _, unc = _write_block(
            out, BLOCK_MAGIC_ROOT_INDEX, bytes(idx_payload), -1, codec
        )
        total_uncompressed += unc
        uncompressed_index_size = len(idx_payload) + leaf_payload_bytes
        # meta index (zero entries — still a root-index block)
        _, _, unc = _write_block(out, BLOCK_MAGIC_ROOT_INDEX, b"", -1, codec)
        total_uncompressed += unc
        # file info
        file_info_offset = out.tell()
        entries = [
            (FI_AVG_KEY_LEN, struct.pack(">i", key_len_sum // n_cells)),
            (FI_AVG_VALUE_LEN, struct.pack(">i", val_len_sum // n_cells)),
            (FI_CREATE_TIME_TS, struct.pack(">q", create_time_ts)),
            (FI_LASTKEY, last_key),
        ]
        if diff:
            entries.append((FI_DATA_BLOCK_ENCODING, b"DIFF"))
        if bloom:
            entries.append((FI_BLOOM_FILTER_TYPE, b"ROW"))
        proto = b"".join(
            _pb_field_bytes(
                1, _pb_field_bytes(1, k) + _pb_field_bytes(2, v)
            )
            for k, v in sorted(entries)
        )
        fi_payload = PB_MAGIC + _pb_varint(len(proto)) + proto
        _, _, unc = _write_block(out, BLOCK_MAGIC_FILE_INFO, fi_payload, -1, codec)
        total_uncompressed += unc
        # general bloom meta — last load-on-open block before the
        # trailer, exactly where HFileWriterImpl.close puts it
        if bloom:
            bm = _bloom_meta_payload(
                bloom_chunks, bloom_total_bytes, bloom_key_count
            )
            _, _, unc = _write_block(out, BLOCK_MAGIC_BLOOM_META, bm, -1, codec)
            total_uncompressed += unc

        # --- fixed trailer (4096 bytes for v3) ---
        tp = b"".join(
            [
                _pb_field_varint(1, file_info_offset),
                _pb_field_varint(2, load_on_open_offset),
                _pb_field_varint(3, uncompressed_index_size),
                _pb_field_varint(4, total_uncompressed),
                _pb_field_varint(5, len(root_entries)),  # data_index_count
                _pb_field_varint(6, 0),  # meta_index_count
                _pb_field_varint(7, n_cells),  # entry_count
                # root entry count / index depth (2 with inline leaves)
                _pb_field_varint(8, 2 if index_chunk_entries > 0 else 1),
                _pb_field_varint(9, blocks[0][0]),  # first_data_block_offset
                _pb_field_varint(10, blocks[-1][0]),  # last_data_block_offset
                _pb_field_bytes(11, COMPARATOR),
                _pb_field_varint(
                    12, COMPRESSION_ORDINALS[codec]
                ),
            ]
        )
        trailer = TRAILER_MAGIC + _pb_varint(len(tp)) + tp
        padding = TRAILER_SIZE_V3 - 4 - len(trailer)
        if padding < 0:
            raise AssertionError("trailer overflow")
        out.write(trailer + b"\x00" * padding + struct.pack(">I", VERSION_WORD))
        size = out.tell()

    return {
        "rows": n_cells,
        "blocks": len(blocks),
        "min_key_hex": first_row.hex().upper(),
        "max_key_hex": last_row.hex().upper(),
        "file_bytes": size,
        "encoding": encoding,
        "bloom_chunks": len(bloom_chunks),
        "bloom_keys": bloom_key_count,
    }


# --- verifying reader -------------------------------------------------------

@contextmanager
def _mapped(fname: str):
    """The file mapped read-only, closed on exit: a reader touches only
    the pages of the blocks it parses, never the whole file."""
    with open(fname, "rb") as f:
        try:
            data = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        except ValueError:  # mmap refuses a 0-byte file
            raise AssertionError("file shorter than a v3 trailer") from None
    with data:
        yield data


def _open_hfile_v3(data):
    """Open a mapped HFile v3 the way ``HFile.Reader`` does: seek the
    fixed trailer (magic + version word), decode the trailer proto, then
    parse the load-on-open section (root data index, empty meta index,
    file info, and the general bloom meta when present, walking to the
    trailer as ``HFileInfo.initMetaAndIndex`` does). Reads no data block
    and no leaf. Returns (meta, codec, root entries, bloom meta or None);
    ``meta`` holds the trailer fields, ``file_info``,
    ``data_block_encoding`` and, for a 2-level index, ``midkey``."""
    if len(data) < TRAILER_SIZE_V3:
        raise AssertionError("file shorter than a v3 trailer")
    (version_word,) = struct.unpack_from(">I", data, len(data) - 4)
    if version_word != VERSION_WORD:
        raise AssertionError(
            f"version word {version_word:#x} != v3 {VERSION_WORD:#x}"
        )
    toff = len(data) - TRAILER_SIZE_V3
    if data[toff : toff + 8] != TRAILER_MAGIC:
        raise AssertionError("bad trailer magic")
    tlen, pos = _pb_read_varint(data, toff + 8)
    tfields = _pb_decode(data[pos : pos + tlen])
    try:
        meta = {
            "file_info_offset": tfields[1][0],
            "load_on_open_offset": tfields[2][0],
            "data_index_count": tfields[5][0],
            "meta_index_count": tfields[6][0],
            "entry_count": tfields[7][0],
            "num_data_index_levels": tfields[8][0],
            "first_data_block_offset": tfields[9][0],
            "last_data_block_offset": tfields[10][0],
            "comparator": tfields[11][0].decode(),
            "compression_codec": tfields[12][0],
        }
    except KeyError as e:
        raise AssertionError(f"trailer lacks field {e}") from None
    if meta["num_data_index_levels"] not in (1, 2):
        raise AssertionError("only 1- and 2-level indexes are written/read")
    if meta["compression_codec"] not in ORDINAL_CODECS:
        raise AssertionError(
            f"unsupported codec ordinal {meta['compression_codec']}"
        )
    codec = ORDINAL_CODECS[meta["compression_codec"]]

    # root data index
    idx_payload, idx_size, _, _ = _parse_block(
        data, meta["load_on_open_offset"], BLOCK_MAGIC_ROOT_INDEX, codec
    )
    root, pos = _parse_root_entries(idx_payload, 0, meta["data_index_count"])
    if meta["num_data_index_levels"] == 2:
        # a multi-level root carries exactly 16 bytes of mid-key
        # metadata after its entries (BlockIndexChunk.getMidKeyMetadata;
        # HFileBlockIndex reads it when in.available() >= 16)
        if len(idx_payload) - pos != 16:
            raise AssertionError(
                "2-level root must end with 16 bytes of mid-key metadata"
            )
        mid_leaf_off, mid_leaf_odwh, mid_key_entry = struct.unpack_from(
            ">qii", idx_payload, pos
        )
        if (mid_leaf_off, mid_leaf_odwh) not in {(o, s) for o, s, _ in root}:
            raise AssertionError("mid-key metadata points outside the root")
        meta["midkey"] = {
            "leaf_offset": mid_leaf_off,
            "leaf_on_disk_size": mid_leaf_odwh,
            "entry": mid_key_entry,
        }
    elif pos != len(idx_payload):
        raise AssertionError("root index has trailing bytes")
    # meta index (must parse, zero entries)
    m_payload, _, _, _ = _parse_block(
        data, meta["load_on_open_offset"] + idx_size, BLOCK_MAGIC_ROOT_INDEX, codec
    )
    if meta["meta_index_count"] == 0 and m_payload != b"":
        raise AssertionError("meta index should be empty")
    # file info
    fi_payload, fi_size, _, _ = _parse_block(
        data, meta["file_info_offset"], BLOCK_MAGIC_FILE_INFO, codec
    )
    if fi_payload[:4] != PB_MAGIC:
        raise AssertionError("file info lacks PBUF magic")
    filen, fpos = _pb_read_varint(fi_payload, 4)
    fi_fields = _pb_decode(fi_payload[fpos : fpos + filen])
    file_info = {}
    for pair in fi_fields.get(1, []):
        kv = _pb_decode(pair)
        file_info[bytes(kv[1][0])] = bytes(kv[2][0])

    # remaining load-on-open blocks: the general bloom meta if present
    bloom_meta = None
    next_off = meta["file_info_offset"] + fi_size
    while next_off < toff:
        payload, bsize, _, magic = _parse_block(data, next_off, None, codec)
        if magic != BLOCK_MAGIC_BLOOM_META:
            raise AssertionError(f"unexpected load-on-open block {magic!r}")
        if bloom_meta is not None:
            raise AssertionError("duplicate general bloom meta")
        bloom_meta = _parse_bloom_meta(payload)
        next_off += bsize
    if (file_info.get(FI_BLOOM_FILTER_TYPE) == b"ROW") != (
        bloom_meta is not None
    ):
        raise AssertionError("BLOOM_FILTER_TYPE and bloom meta disagree")
    # the FileInfo-announced encoding dictates every data block's type
    diff = file_info.get(FI_DATA_BLOCK_ENCODING) == b"DIFF"
    meta["data_block_encoding"] = "DIFF" if diff else "NONE"
    meta["file_info"] = file_info
    return meta, codec, root, bloom_meta


def _leaf_entries(data: bytes, leaf: tuple[int, int, bytes], codec: str) -> list:
    """Expand one root entry of a 2-level index into its LEAF_INDEX
    block's data-block entries, checked against the root entry."""
    off, odwh, first_key = leaf
    payload, size_wh, _, _ = _parse_block(data, off, BLOCK_MAGIC_LEAF_INDEX, codec)
    if size_wh != odwh:
        raise AssertionError("root onDiskSize disagrees for a leaf")
    entries = _parse_leaf_index(payload)
    if not entries or entries[0][2] != first_key:
        raise AssertionError("leaf first-key disagrees with root")
    return entries


def _data_block_cells(
    data: bytes, entry: tuple[int, int, bytes], codec: str, diff: bool
) -> tuple[list[tuple[bytes, bytes]], int]:
    """Read the data block an index entry points at and decode it to
    (flat key, value) cells; returns (cells, prevBlockOffset)."""
    off, odwh, _ = entry
    magic = BLOCK_MAGIC_ENCODED_DATA if diff else BLOCK_MAGIC_DATA
    payload, size_wh, prev, _ = _parse_block(data, off, magic, codec)
    if size_wh != odwh:
        raise AssertionError(f"index onDiskSize disagrees for block at {off}")
    if diff:
        return _diff_decode_block(payload), prev
    kvs = []
    pos = 0
    while pos < len(payload):
        klen, vlen = struct.unpack_from(">II", payload, pos)
        kvs.append(
            (
                payload[pos + 8 : pos + 8 + klen],
                payload[pos + 8 + klen : pos + 8 + klen + vlen],
            )
        )
        pos += 8 + klen + vlen
    if pos != len(payload):
        raise AssertionError(f"data block at {off} has trailing bytes")
    return kvs, prev


def read_hfile_v3(fname: str) -> tuple[list, dict]:
    """Parse an HFile v3 exactly the way ``HFile.Reader`` opens it
    (:func:`_open_hfile_v3`), then read every data block THROUGH the
    index, checksum-verifying each block and asserting cell order, index
    agreement, entry/LASTKEY/file-info consistency. Returns (cells,
    meta) with cells = [(row, family, qualifier, ts, value)]."""
    with _mapped(fname) as data:
        meta, codec, entries, bloom_meta = _open_hfile_v3(data)
        if meta["num_data_index_levels"] == 2:
            # root points at inline LEAF_INDEX blocks; expand to data entries
            data_entries = []
            for leaf in entries:
                sub = _leaf_entries(data, leaf, codec)
                if meta["midkey"]["leaf_offset"] == leaf[0] and not (
                    0 <= meta["midkey"]["entry"] < len(sub)
                ):
                    raise AssertionError("mid-key entry outside its leaf")
                data_entries.extend(sub)
            entries = data_entries
        diff = meta["data_block_encoding"] == "DIFF"

        # data blocks through the index
        cells = []
        prev_key = prev_order = None
        prev_off = -1
        n_rows_distinct = 0
        prev_row = None
        for i, entry in enumerate(entries):
            kvs, prev = _data_block_cells(data, entry, codec, diff)
            if prev != prev_off:
                raise AssertionError(f"prevBlockOffset chain broken at block {i}")
            prev_off = entry[0]
            block_first = None
            for key, value in kvs:
                if block_first is None:
                    block_first = key
                row, fam, qual, ts, typ = decode_cell_key(key)
                order = _cell_order(row, fam, qual, ts)
                if prev_key is not None and order < prev_order:
                    raise AssertionError("cells out of order")
                prev_key, prev_order = key, order
                if typ != KEYVALUE_TYPE_PUT:
                    raise AssertionError(f"unexpected cell type {typ}")
                if row != prev_row:
                    n_rows_distinct += 1
                    prev_row = row
                cells.append((row, fam, qual, ts, value))
            if block_first != entry[2]:
                raise AssertionError(f"index first-key disagrees for block {i}")
            if bloom_meta is not None and not _bloom_contains(
                data, bloom_meta, decode_cell_key(block_first)[0], codec
            ):
                raise AssertionError(
                    f"bloom false-negative on block {i}'s first row"
                )
        if len(cells) != meta["entry_count"]:
            raise AssertionError("trailer entry_count disagrees")
        if prev_key != meta["file_info"].get(FI_LASTKEY):
            raise AssertionError("file-info LASTKEY disagrees")
        if bloom_meta is not None:
            if bloom_meta["key_count"] != n_rows_distinct:
                raise AssertionError("bloom keyCount != distinct row count")
            meta["bloom"] = {
                "chunks": len(bloom_meta["chunks"]),
                "key_count": bloom_meta["key_count"],
                "total_bytes": bloom_meta["total_bytes"],
            }
        meta["rows"] = len(cells)
        meta["min_key_hex"] = cells[0][0].hex().upper()
        meta["max_key_hex"] = cells[-1][0].hex().upper()
        return cells, meta


# --- Spark integration ------------------------------------------------------

def _rolling_write_arrow(sorted_kv, write_region_file) -> list[dict]:
    """Arrow-batched rolling writer: stream the range-partitioned, sorted
    KV frame through mapInPandas (one Arrow batch at a time — the old
    ``.rdd.mapPartitionsWithIndex`` path converted every InternalRow to a
    Python Row, a per-CELL pickle tax on the flagship write), roll a file
    on region change, and collect only the per-file manifest rows.
    ``write_region_file(region, pid, cells)`` gets the accumulated
    ``(key, family, qualifier, value)`` bytes tuples and returns the
    manifest dict."""
    stream = sorted_kv.select(
        "region",
        "key",
        "family",
        "qualifier",
        "value",
        F.spark_partition_id().alias("__pid"),
    )

    def write_batches(batches):
        import pandas as pd

        out: list[dict] = []
        current_region, buf, pid = None, [], None

        def flush():
            if current_region is None or not buf:
                return
            out.append(write_region_file(int(current_region), int(pid), buf))

        for pdf in batches:
            for region, key, fam, qual, val, p in zip(
                pdf["region"], pdf["key"], pdf["family"],
                pdf["qualifier"], pdf["value"], pdf["__pid"],
            ):
                if region != current_region:
                    flush()
                    current_region, buf = region, []
                pid = p
                buf.append((bytes(key), bytes(fam), bytes(qual), bytes(val)))
        flush()
        if out:
            yield pd.DataFrame(out)

    rows = stream.mapInPandas(
        write_batches,
        "file string, region int, rows long, "
        "min_key_hex string, max_key_hex string",
    ).collect()
    return sorted(
        (r.asDict() for r in rows), key=lambda r: (r["region"], r["file"])
    )


def write_hfilev3_files(
    kv,
    path: str,
    rollup: bool = False,
    num_partitions: int = 16,
    compression: str = "NONE",
    encoding: str = "NONE",
    bloom: bool = False,
) -> dict:
    """H2/H3 rolling writer over the REAL v3 container: range-partition +
    sort once (globally non-overlapping regions, the §4.2 contract), then
    each task rolls one HFile per region it holds. Input columns as
    bulkload_kv (bucket, key, key_hex, family, qualifier, qualifier_hex,
    value); cell timestamp is fixed at 0 (bulk loads carry the version in
    the value/qualifier per the reference's TSDB layout). Returns the
    manifest, also written to ``_manifest.json``, that ``hfile.v3_manifest``
    builds from the tasks' per-file entries (no file is read again) after
    adoption's checks: a layout adoption would refuse raises before
    ``hfile.commit_dir`` swaps the staging dir in, keeping the old output."""
    sorted_kv = hfile.assign_region(kv, rollup, num_partitions)

    def write(staging: str) -> dict:
        os.makedirs(staging)

        def write_region_file(region: int, pid: int, cells) -> dict:
            fname = os.path.join(staging, f"region_{region:05d}_p{pid:05d}.hfile")
            meta = write_hfile_v3(
                fname,
                ((k, f, q, 0, v) for k, f, q, v in cells),
                compression=compression,
                encoding=encoding,
                bloom=bloom,
            )
            return {
                "file": os.path.basename(fname),
                "region": region,
                "rows": meta["rows"],
                "min_key_hex": meta["min_key_hex"],
                "max_key_hex": meta["max_key_hex"],
            }

        files = _rolling_write_arrow(sorted_kv, write_region_file)
        manifest = hfile.v3_manifest(files, rollup)
        hfile.write_manifest(staging, manifest)
        return manifest

    return hfile.commit_dir(path, write)


def read_hfilev3_dir(spark, path: str):
    """Distributed v3 readback: one task per file of the manifest's
    ``files`` list, each opening its file exactly as HFile.Reader would
    (trailer → load-on-open → index → checksum-verified data blocks) and
    asserting its entry agrees with what the file itself says. Returns
    (region, key, key_hex, family, qualifier, qualifier_hex, value)."""
    with open(os.path.join(path, "_manifest.json")) as f:
        files = json.load(f).get("files", [])

    # Arrow-batched readback: the old parallelize(...).flatMap +
    # createDataFrame(rdd) path pickled EVERY cell row Python->JVM with
    # per-row schema verification — measured at ~50 s executor CPU for a
    # ~6 s-wall gate (the decode itself is ~20 ms/file). mapInPandas
    # ships each file's cells as ONE Arrow batch instead.
    meta_df = local_frame(spark,
        [
            (os.path.join(path, m["file"]), m["region"], m["rows"],
             m["min_key_hex"], m["max_key_hex"])
            for m in files
        ],
        "fname string, region int, exp_rows long, exp_min string, "
        "exp_max string",
    ).repartition(
        # round-robin; one file per task only while the cluster has the
        # slots — each Python-runner task costs ~0.25 s of harness
        # overhead even with warm reused workers (measured: an identity
        # 79-task mapInPandas burns ~20 s executor CPU doing nothing),
        # so on a 32-core box 79 single-file tasks pay more harness than
        # parse. At cluster scale defaultParallelism >> files and this
        # stays one file per task.
        max(1, min(len(files), spark.sparkContext.defaultParallelism))
    )

    def parse_batches(batches):
        import pandas as pd

        for pdf in batches:
            for fname, region, erows, emin, emax in pdf.itertuples(
                index=False
            ):
                cells, meta = read_hfile_v3(fname)
                if (
                    meta["rows"],
                    meta["min_key_hex"],
                    meta["max_key_hex"],
                ) != (erows, emin, emax):
                    raise AssertionError(f"{fname}: manifest/meta disagree")
                if not cells:
                    continue  # empty frame would poison Arrow dtype inference
                yield pd.DataFrame(
                    {
                        "region": [region] * len(cells),
                        "key": [c[0] for c in cells],
                        "key_hex": [c[0].hex().upper() for c in cells],
                        "family": [c[1] for c in cells],
                        "qualifier": [c[2] for c in cells],
                        "qualifier_hex": [c[2].hex().upper() for c in cells],
                        "value": [c[4] for c in cells],
                    }
                )

    return meta_df.mapInPandas(
        parse_batches,
        "region int, key binary, key_hex string, family binary, "
        "qualifier binary, qualifier_hex string, value binary",
    )


# --- index-seek point read ---------------------------------------------------

def _row_candidates(entries: list, row: bytes):
    """Index entries whose blocks can hold cells of ``row``: the last
    entry whose first key's row sorts before ``row`` (the row's first
    cell may sit mid-block), then its successors while their first row
    is still ``row`` (a row with many qualifiers straddles blocks)."""
    rows = [decode_cell_key(k)[0] for _, _, k in entries]
    start = max(0, bisect.bisect_left(rows, row) - 1)
    for i in range(start, len(entries)):
        if i > start and rows[i] > row:
            return
        yield entries[i]


def seek_row_hfile_v3(fname: str, row: bytes, stats: dict | None = None) -> list:
    """Point-get through the bloom + block index — the read path a
    region server serves from these files: map the file read-only and
    parse its trailer + load-on-open metadata only
    (:func:`_open_hfile_v3`); if the file carries a ROW bloom, probe it
    FIRST and return empty on a negative without touching any data block
    (``StoreFileReader.passesGeneralRowBloomFilter`` — the short-circuit
    that makes point-gets on absent rows ~free); otherwise binary-search
    the index (root, then only the leaves that can hold the row) and
    scan ONLY the data blocks that can hold it. Returns the row's cells.
    ``stats`` (optional dict) records the access path: bloom_checked /
    bloom_negative / data_blocks_read."""
    if stats is None:
        stats = {}
    stats.update(bloom_checked=False, bloom_negative=False, data_blocks_read=0)
    with _mapped(fname) as data:
        meta, codec, entries, bloom_meta = _open_hfile_v3(data)
        if bloom_meta is not None:
            stats["bloom_checked"] = True
            if not _bloom_contains(data, bloom_meta, row, codec):
                stats["bloom_negative"] = True
                return []
        if meta["num_data_index_levels"] == 2:
            # two-step seek: the root stays small, and only the leaves that
            # can hold the row are read
            entries = [
                e
                for leaf in _row_candidates(entries, row)
                for e in _leaf_entries(data, leaf, codec)
            ]
        diff = meta["data_block_encoding"] == "DIFF"
        cells = []
        for entry in _row_candidates(entries, row):
            kvs, _ = _data_block_cells(data, entry, codec, diff)
            stats["data_blocks_read"] += 1
            for key, value in kvs:
                r, fam, qual, ts, _typ = decode_cell_key(key)
                if r == row:
                    cells.append((r, fam, qual, ts, value))
                elif r > row:
                    return cells
        return cells
