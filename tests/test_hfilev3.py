"""HFile v3 container invariants: pinned public-format constants, full
write/read roundtrip, HBase CellComparator field-wise ordering (vs raw
serialized-key order), checksum corruption detection, trailer/index/
file-info agreement, and the Spark rolling writer + distributed reader."""

from __future__ import annotations

import os
import struct
import zlib

import pytest

from hbase_bulkload_service_spark.sources import hfilev3 as h3


def _cells(n=400, rowfmt=b"row%05d"):
    cells = [
        (rowfmt % i, b"d", b"q%02d" % (i % 5), 0, b"value-%d" % i)
        for i in range(n)
    ]
    cells.sort(key=lambda c: h3._cell_order(c[0], c[1], c[2], c[3]))
    return cells


# ---------------------------------------------------------------------------
# pinned v3 layout constants (Apache HBase public format)
# ---------------------------------------------------------------------------

def test_v3_layout_constants_pinned():
    assert h3.BLOCK_MAGIC_DATA == b"DATABLK*"
    assert h3.BLOCK_MAGIC_ROOT_INDEX == b"IDXROOT2"
    assert h3.BLOCK_MAGIC_FILE_INFO == b"FILEINF2"
    assert h3.TRAILER_MAGIC == b'TRABLK"$'
    assert h3.HEADER_SIZE == 33  # HConstants.HFILEBLOCK_HEADER_SIZE
    assert h3.TRAILER_SIZE_V3 == 4096  # FixedFileTrailer v3 size
    assert h3.VERSION_WORD == 0x03000003  # major 3 | minor 3 << 24
    assert h3.COMPRESSION_NONE_ORDINAL == 2  # Compression.Algorithm NONE
    assert h3.KEYVALUE_TYPE_PUT == 4
    assert h3.PB_MAGIC == b"PBUF"


def test_on_disk_structure_golden(tmp_path):
    fn = str(tmp_path / "g.hfile")
    h3.write_hfile_v3(fn, _cells(50), block_size=1024)
    data = open(fn, "rb").read()
    # file starts with a DATA block whose header fields are coherent
    assert data[:8] == b"DATABLK*"
    on_disk_wo, uncompressed, prev = struct.unpack_from(">IIq", data, 8)
    assert prev == -1
    assert data[24] == 1  # ChecksumType.CRC32
    (bpc,) = struct.unpack_from(">I", data, 25)
    assert bpc == 16384
    (odwh,) = struct.unpack_from(">I", data, 29)
    assert odwh == 33 + uncompressed
    # trailer: fixed 4096 bytes, magic at the start, version word at EOF
    assert data[-4:] == struct.pack(">I", 0x03000003)
    toff = len(data) - 4096
    assert data[toff : toff + 8] == b'TRABLK"$'
    # file-info block payload begins with the PBUF magic
    _, meta = h3.read_hfile_v3(fn)
    fi_off = meta["file_info_offset"]
    assert data[fi_off : fi_off + 8] == b"FILEINF2"
    assert data[fi_off + 33 : fi_off + 37] == b"PBUF"
    assert meta["comparator"] == "org.apache.hadoop.hbase.CellComparatorImpl"


# ---------------------------------------------------------------------------
# roundtrip + multi-block index
# ---------------------------------------------------------------------------

def test_roundtrip_multi_block(tmp_path):
    fn = str(tmp_path / "t.hfile")
    cells = _cells(3000)
    w = h3.write_hfile_v3(fn, cells, block_size=2048)
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    assert w["blocks"] == meta["data_index_count"] > 10
    assert meta["entry_count"] == 3000
    assert meta["num_data_index_levels"] == 1
    assert meta["meta_index_count"] == 0
    assert meta["file_info"][h3.FI_LASTKEY] == h3.encode_cell_key(
        *cells[-1][:3], cells[-1][3]
    )


def test_cell_comparator_is_fieldwise_not_raw_bytes(tmp_path):
    # rows of DIFFERENT lengths: "r" < "r0" in row-byte order, but the
    # serialized keys compare the 2-byte rowLen prefix first — the
    # writer must accept CellComparator order and reject raw-key order
    cells = [
        (b"r", b"d", b"q", 0, b"a"),
        (b"r0", b"d", b"q", 0, b"b"),
        (b"r00", b"d", b"q", 0, b"c"),
        (b"s", b"d", b"q", 0, b"d"),
    ]
    assert sorted(cells, key=lambda c: h3._cell_order(*c[:4])) == cells
    fn = str(tmp_path / "v.hfile")
    h3.write_hfile_v3(fn, cells)
    back, _ = h3.read_hfile_v3(fn)
    assert back == cells
    # same-row same-qualifier versions must come NEWEST FIRST
    versions = [(b"r", b"d", b"q", 9, b"new"), (b"r", b"d", b"q", 1, b"old")]
    fn2 = str(tmp_path / "w.hfile")
    h3.write_hfile_v3(fn2, versions)
    with pytest.raises(AssertionError, match="not sorted"):
        h3.write_hfile_v3(str(tmp_path / "x.hfile"), versions[::-1])


def test_unsorted_and_empty_rejected(tmp_path):
    cells = _cells(10)
    with pytest.raises(AssertionError, match="not sorted"):
        h3.write_hfile_v3(str(tmp_path / "u.hfile"), cells[::-1])
    with pytest.raises(AssertionError, match="empty"):
        h3.write_hfile_v3(str(tmp_path / "e.hfile"), [])


# ---------------------------------------------------------------------------
# corruption detection
# ---------------------------------------------------------------------------

def _flip(b: bytes, pos: int) -> bytes:
    out = bytearray(b)
    out[pos] ^= 0x01
    return bytes(out)


def _recrc(data: bytearray, boff: int) -> None:
    """Recompute the CRC32 chunk checksums of the block at ``boff`` in
    place, so a test's edit reaches the check behind the checksum."""
    (odwh,) = struct.unpack_from(">I", data, boff + 29)
    checked = bytes(data[boff : boff + odwh])
    for c in range(-(-odwh // h3.BYTES_PER_CHECKSUM)):
        chunk = checked[c * h3.BYTES_PER_CHECKSUM : (c + 1) * h3.BYTES_PER_CHECKSUM]
        struct.pack_into(
            ">I", data, boff + odwh + 4 * c, zlib.crc32(chunk) & 0xFFFFFFFF
        )


def _assert_both_refuse(tmp_path, data, row, match=None):
    """The full read and the point seek both refuse the file ``data``:
    they open it through the same checks."""
    fn2 = str(tmp_path / "bad.hfile")
    open(fn2, "wb").write(bytes(data))
    with pytest.raises(AssertionError, match=match):
        h3.read_hfile_v3(fn2)
    with pytest.raises(AssertionError, match=match):
        h3.seek_row_hfile_v3(fn2, row)


def _set_codec_ordinal(b: bytes, ordinal: int) -> bytes:
    # the trailer proto's last field is the codec ordinal (tag 12, varint)
    toff = len(b) - 4096
    tlen, pos = h3._pb_read_varint(b, toff + 8)
    assert b[pos + tlen - 2] == 12 << 3
    out = bytearray(b)
    out[pos + tlen - 1] = ordinal
    return bytes(out)


def _empty_trailer_proto(b: bytes) -> bytes:
    toff = len(b) - 4096
    assert b[toff + 8] < 0x80  # one-byte varint length
    out = bytearray(b)
    out[toff + 8] = 0
    return bytes(out)


def _drop_pbuf_magic(b: bytes) -> bytes:
    out = bytearray(b)
    fi = bytes(out).index(h3.BLOCK_MAGIC_FILE_INFO)
    assert out[fi + 33 : fi + 37] == h3.PB_MAGIC
    out[fi + 33 : fi + 37] = b"XXXX"
    _recrc(out, fi)
    return bytes(out)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: _flip(b, 40),               # data byte -> CRC
        lambda b: _flip(b, 8),                # header field -> CRC
        lambda b: _flip(b, len(b) - 1),       # version word
        lambda b: _flip(b, len(b) - 4096),    # trailer magic
        lambda b: b[:3],                      # truncated to 3 bytes
        lambda b: _set_codec_ordinal(b, 7),   # unknown codec ordinal
        lambda b: _empty_trailer_proto(b),    # trailer without its fields
        lambda b: _drop_pbuf_magic(b),        # file info without PBUF
    ],
)
def test_corruption_detected(tmp_path, mutate):
    fn = str(tmp_path / "c.hfile")
    cells = _cells(100)
    h3.write_hfile_v3(fn, cells, block_size=1024)
    _assert_both_refuse(tmp_path, mutate(open(fn, "rb").read()), cells[0][0])


def test_vlong_roundtrip():
    for v in (0, 1, 127, 128, 300, 70000, 2**31, 2**40, -1, -113, -129):
        b = h3._hadoop_vlong(v)
        got, pos = h3._read_hadoop_vlong(b, 0)
        assert (got, pos) == (v, len(b))


# ---------------------------------------------------------------------------
# Spark rolling writer + distributed reader (H2/H3 contract over v3)
# ---------------------------------------------------------------------------

def _spark_kv(spark):
    rows = []
    for b in range(4):
        for i in range(50):
            key = bytes([0, b]) + (b"k%04d" % i)
            rows.append(
                (b, key, key.hex().upper(), b"d", b"q%d" % (i % 3),
                 (b"q%d" % (i % 3)).hex().upper(), b"v%d" % i)
            )
    kv = spark.createDataFrame(
        rows,
        "bucket int, key binary, key_hex string, family binary,"
        " qualifier binary, qualifier_hex string, value binary",
    )
    return rows, kv


def test_rolling_writer_and_distributed_reader(spark, tmp_path):
    rows, kv = _spark_kv(spark)
    d = str(tmp_path / "v3dir")
    manifest = h3.write_hfilev3_files(kv, d, rollup=False, num_partitions=4)
    assert {m["region"] for m in manifest["files"]} == {0, 1, 2, 3}
    assert all(f.endswith(".hfile") for f in os.listdir(d) if f != "_manifest.json")
    back = h3.read_hfilev3_dir(spark, d)
    got = {
        (r["region"], bytes(r["key"]), bytes(r["qualifier"]), bytes(r["value"]))
        for r in back.collect()
    }
    want = {(r[0], r[1], r[4], r[6]) for r in rows}
    assert got == want
    # per-file invariants enforced in the reading task: flip a byte in
    # one file and the distributed read must fail
    victim = next(f for f in sorted(os.listdir(d)) if f.endswith(".hfile"))
    p = os.path.join(d, victim)
    blob = bytearray(open(p, "rb").read())
    blob[40] ^= 0xFF
    open(p, "wb").write(bytes(blob))
    with pytest.raises(Exception):
        h3.read_hfilev3_dir(spark, d).collect()


def test_rewrite_with_fewer_regions_leaves_no_stale_file(spark, tmp_path):
    """A second write into a used dir replaces it whole: the dir holds
    exactly the files of the new manifest, since adoption takes every
    file in it."""
    d = str(tmp_path / "v3dir")
    _, kv = _spark_kv(spark)
    h3.write_hfilev3_files(kv, d, num_partitions=4)
    manifest = h3.write_hfilev3_files(kv.filter("bucket < 2"), d, num_partitions=2)
    assert {m["region"] for m in manifest["files"]} == {0, 1}
    assert {f for f in os.listdir(d) if f.endswith(".hfile")} == {
        m["file"] for m in manifest["files"]
    }


# ---------------------------------------------------------------------------
# GZ codec (compressed-block framing)
# ---------------------------------------------------------------------------

def test_gz_roundtrip_and_trailer_codec(tmp_path):
    cells = _cells(2000)
    fn = str(tmp_path / "gz.hfile")
    w = h3.write_hfile_v3(fn, cells, block_size=4096, compression="GZ")
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    assert meta["compression_codec"] == h3.COMPRESSION_GZ_ORDINAL
    data = open(fn, "rb").read()
    # first data block payload is a gzip member...
    assert data[33:35] == b"\x1f\x8b"
    # ...whose decompressed size matches the header's uncompressed field
    (on_disk_wo, uncompressed) = struct.unpack_from(">II", data, 8)
    n_chunks = -(-struct.unpack_from(">I", data, 29)[0] // 16384)
    disk_payload = data[33 : 33 + on_disk_wo - 4 * n_chunks]
    assert len(zlib.decompress(disk_payload, 16 + zlib.MAX_WBITS)) == uncompressed
    # and GZ genuinely shrinks the file vs NONE on this data
    fn2 = str(tmp_path / "plain.hfile")
    w2 = h3.write_hfile_v3(fn2, cells, block_size=4096)
    assert w["file_bytes"] < w2["file_bytes"]


def test_gz_corruption_detected_before_decompress(tmp_path):
    fn = str(tmp_path / "gzc.hfile")
    h3.write_hfile_v3(fn, _cells(500), block_size=2048, compression="GZ")
    blob = bytearray(open(fn, "rb").read())
    blob[50] ^= 0xFF  # inside the compressed payload -> CRC catches it
    fn2 = str(tmp_path / "gzbad.hfile")
    open(fn2, "wb").write(bytes(blob))
    with pytest.raises(AssertionError, match="CRC"):
        h3.read_hfile_v3(fn2)


def test_gz_codec_fault_is_assertion(tmp_path):
    """A gzip member that passes its block CRC but fails its own length
    check surfaces as the reader's AssertionError."""
    fn = str(tmp_path / "gzf.hfile")
    cells = _cells(500)
    h3.write_hfile_v3(fn, cells, block_size=2048, compression="GZ")
    data = bytearray(open(fn, "rb").read())
    (on_disk_wo,) = struct.unpack_from(">I", data, 8)
    n_chunks = -(-struct.unpack_from(">I", data, 29)[0] // 16384)
    data[33 + on_disk_wo - 4 * n_chunks - 1] ^= 0xFF  # gzip ISIZE byte
    _recrc(data, 0)
    _assert_both_refuse(tmp_path, data, cells[0][0], "does not decode")


def test_unknown_codec_rejected(tmp_path):
    with pytest.raises(ValueError, match="NONE, GZ, or SNAPPY"):
        h3.write_hfile_v3(str(tmp_path / "x.hfile"), _cells(5), compression="LZ4")


# ---------------------------------------------------------------------------
# index-seek point read
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("comp", ["NONE", "GZ", "SNAPPY"])
def test_seek_row_reads_only_needed_blocks(tmp_path, comp):
    cells = []
    for i in range(300):
        nq = 30 if i % 53 == 0 else 2  # fat rows straddle block bounds
        for q in range(nq):
            cells.append((b"row%05d" % i, b"d", b"q%03d" % q, 0, b"v%d.%d" % (i, q)))
    cells.sort(key=lambda c: h3._cell_order(*c[:4]))
    fn = str(tmp_path / f"s{comp}.hfile")
    h3.write_hfile_v3(fn, cells, block_size=512, compression=comp)
    for probe in [0, 1, 52, 53, 106, 150, 299]:
        row = b"row%05d" % probe
        got = h3.seek_row_hfile_v3(fn, row)
        assert got == [c for c in cells if c[0] == row]
    # misses before, between, and after the key space
    assert h3.seek_row_hfile_v3(fn, b"aaa") == []
    assert h3.seek_row_hfile_v3(fn, b"row00000x") == []
    assert h3.seek_row_hfile_v3(fn, b"zzz") == []


# ---------------------------------------------------------------------------
# two-level index (inline IDXLEAF2 leaves + root-of-leaves)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("comp", ["NONE", "GZ", "SNAPPY"])
def test_two_level_index_roundtrip_and_seek(tmp_path, comp):
    cells = []
    for i in range(600):
        nq = 30 if i % 71 == 0 else 2
        for q in range(nq):
            cells.append((b"row%05d" % i, b"d", b"q%03d" % q, 0, b"v%d.%d" % (i, q)))
    cells.sort(key=lambda c: h3._cell_order(*c[:4]))
    fn = str(tmp_path / f"two{comp}.hfile")
    w = h3.write_hfile_v3(
        fn, cells, block_size=512, compression=comp, index_chunk_entries=6
    )
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    assert meta["num_data_index_levels"] == 2
    # root is leaf-count-sized, far smaller than the data block count
    assert meta["data_index_count"] == -(-w["blocks"] // 6) < w["blocks"]
    assert b"IDXLEAF2" in open(fn, "rb").read()
    for probe in [0, 1, 70, 71, 142, 599]:
        row = b"row%05d" % probe
        assert h3.seek_row_hfile_v3(fn, row) == [c for c in cells if c[0] == row]
    assert h3.seek_row_hfile_v3(fn, b"zzz") == []


def test_two_level_leaf_corruption_detected(tmp_path):
    cells = _cells(400)
    fn = str(tmp_path / "lc.hfile")
    h3.write_hfile_v3(fn, cells, block_size=512, index_chunk_entries=4)
    data = bytearray(open(fn, "rb").read())
    pos = bytes(data).index(b"IDXLEAF2") + 40  # inside leaf payload
    data[pos] ^= 0xFF
    fn2 = str(tmp_path / "lcbad.hfile")
    open(fn2, "wb").write(bytes(data))
    with pytest.raises(AssertionError):
        h3.read_hfile_v3(fn2)


def test_leaf_index_codec_roundtrip():
    entries = [(0, 100, b"k1"), (100, 220, b"key-longer"), (320, 64, b"z")]
    assert h3._parse_leaf_index(h3._leaf_index_payload(entries)) == entries
    assert h3._parse_leaf_index(h3._leaf_index_payload([])) == []


# ---------------------------------------------------------------------------
# round 6: DIFF data block encoding (DiffKeyDeltaEncoder)
# ---------------------------------------------------------------------------

def _varied_cells(n=300, seed=7):
    """Sorted cells exercising every DIFF flag path: rows of different
    lengths (rowLen-short common-prefix 0/1 cases), shared rows with many
    qualifiers (qualifier-delta path), mixed value lengths, negative /
    zero / large timestamps (sign + fit-in-bytes + ts-diff paths)."""
    import random

    rng = random.Random(seed)
    cells = []
    rows = sorted(
        {b"r" * rng.randrange(1, 4) + (b"%04d" % rng.randrange(500))
         for _ in range(n)}
    )
    for r in rows:
        quals = sorted(
            {b"q%0*d" % (rng.randrange(1, 5), rng.randrange(90))
             for _ in range(rng.randrange(1, 4))}
        )
        for q in quals:
            tss = sorted(
                {rng.choice([0, 1, -5, 1234567890123, 2**40, 255, 256])
                 for _ in range(rng.randrange(1, 3))},
                reverse=True,
            )
            for ts in tss:
                cells.append(
                    (r, b"d", q, ts, bytes(rng.randrange(256)
                                           for _ in range(rng.randrange(12))))
                )
    return cells


def test_diff_block_codec_roundtrip_and_shrinks():
    cells = _varied_cells()
    kvs = [
        (h3.encode_cell_key(r, f, q, ts), v) for r, f, q, ts, v in cells
    ]
    enc = h3._diff_encode_block(kvs)
    assert struct.unpack_from(">H", enc, 0)[0] == 4  # DataBlockEncoding.DIFF id
    assert h3._diff_decode_block(enc) == kvs
    plain = b"".join(h3._encode_keyvalue(k, v) for k, v in kvs)
    assert len(enc) < len(plain)  # the delta encoding actually encodes


def test_diff_first_record_layout_golden():
    # DiffKeyDeltaEncoder writes the block's FIRST record as: famLen,
    # family, flag, cint(keyLen), cint(valLen), cint(0), rowLen short +
    # row, qualifier, little-endian fit-in-bytes ts, type, value
    key = h3.encode_cell_key(b"row", b"fam", b"qu", 0x0102)
    enc = h3._diff_encode_block([(key, b"VV")])
    exp = bytearray(struct.pack(">H", 4))
    exp += bytes([3]) + b"fam"                      # famLen + family
    exp += bytes([(2 - 1) << 4])                    # flag: ts fits in 2 bytes
    exp += bytes([len(key)]) + bytes([2]) + bytes([0])  # cints: klen vlen common
    exp += struct.pack(">H", 3) + b"row" + b"qu"    # rowLen+row, qualifier
    exp += bytes([0x02, 0x01])                      # ts little-endian, 2 bytes
    exp += bytes([4])                               # KeyValue.Type.Put
    exp += b"VV"
    assert enc == bytes(exp)


def test_diff_same_flags_and_ts_diff_paths():
    # second cell: same row+qual lengths, same value length, same type,
    # timestamp expressed as a 1-byte DIFF vs an 8-byte absolute
    k1 = h3.encode_cell_key(b"row", b"d", b"qa", 2**40)
    k2 = h3.encode_cell_key(b"row", b"d", b"qb", 2**40 - 3)
    enc = h3._diff_encode_block([(k1, b"xx"), (k2, b"yy")])
    assert h3._diff_decode_block(enc) == [(k1, b"xx"), (k2, b"yy")]
    # flag byte of the second record: SAME_KEY_LEN|SAME_VALUE_LEN|
    # SAME_TYPE|TS_IS_DIFF, tsLen bits 0 (1 byte); the second record
    # starts right after the first — locate it by re-encoding the first
    solo = h3._diff_encode_block([(k1, b"xx")])
    flag = enc[len(solo)]
    assert flag & h3._DIFF_SAME_KEY_LEN
    assert flag & h3._DIFF_SAME_VALUE_LEN
    assert flag & h3._DIFF_SAME_TYPE
    assert flag & h3._DIFF_TS_IS_DIFF
    assert (flag & h3._DIFF_MASK_TS_LEN) >> h3._DIFF_SHIFT_TS_LEN == 0
    # and the shared-row delta re-sends only the qualifier remainder:
    # flag + cint(common) + 1 qual byte + 1 ts byte = 4 bytes total
    assert len(enc) - len(solo) == 4 + len(b"yy")


def test_diff_rejects_mixed_families():
    k1 = h3.encode_cell_key(b"r1", b"f1", b"q", 0)
    k2 = h3.encode_cell_key(b"r2", b"f2", b"q", 0)
    with pytest.raises(AssertionError, match="single column family"):
        h3._diff_encode_block([(k1, b"a"), (k2, b"b")])


@pytest.mark.parametrize("comp", ["NONE", "GZ", "SNAPPY"])
def test_diff_file_roundtrip_and_fileinfo(tmp_path, comp):
    cells = _varied_cells(seed=11)
    fn = str(tmp_path / f"diff{comp}.hfile")
    h3.write_hfile_v3(fn, cells, block_size=700, compression=comp,
                      encoding="DIFF")
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    assert meta["data_block_encoding"] == "DIFF"
    assert meta["file_info"][h3.FI_DATA_BLOCK_ENCODING] == b"DIFF"
    data = open(fn, "rb").read()
    assert data[:8] == b"DATABLKE"  # BlockType.ENCODED_DATA magic
    assert b"DATABLK*" not in data  # every data block is encoded
    # seeks decode through the DIFF path too
    row = cells[len(cells) // 2][0]
    assert h3.seek_row_hfile_v3(fn, row) == [c for c in cells if c[0] == row]


def test_diff_corruption_detected(tmp_path):
    fn = str(tmp_path / "dc.hfile")
    h3.write_hfile_v3(fn, _cells(200), block_size=512, encoding="DIFF")
    blob = bytearray(open(fn, "rb").read())
    blob[40] ^= 0xFF  # inside the first encoded payload -> CRC
    fn2 = str(tmp_path / "dcbad.hfile")
    open(fn2, "wb").write(bytes(blob))
    with pytest.raises(AssertionError):
        h3.read_hfile_v3(fn2)


# ---------------------------------------------------------------------------
# round 6: ROW compound bloom
# ---------------------------------------------------------------------------

def test_murmur_golden_against_real_hadoop(spark):
    """The bloom's bit positions come from Hadoop's MurmurHash — compare
    the Python port against the ACTUAL org.apache.hadoop.util.hash
    .MurmurHash class on the Spark classpath (non-circular golden)."""
    import random

    jvm = spark.sparkContext._jvm
    mh = jvm.org.apache.hadoop.util.hash.MurmurHash.getInstance()
    rng = random.Random(42)
    cases = [b"", b"a", b"abc", b"abcd", b"\xff" * 7, bytes(range(256))]
    cases += [bytes(rng.randrange(256) for _ in range(rng.randrange(40)))
              for _ in range(60)]
    for data in cases:
        for seed in (0, 1, -1, 12345, -987654321):
            assert h3._murmur2_java(data, seed) == mh.hash(
                bytearray(data), len(data), seed
            )


def test_bloom_meta_constants_and_roundtrip():
    chunks = [(0, 120, b"rowA"), (120, 360, b"rowM")]
    payload = h3._bloom_meta_payload(chunks, 99, 7)
    got = h3._parse_bloom_meta(payload)
    assert got["chunks"] == chunks
    assert got["key_count"] == 7 and got["total_bytes"] == 99
    assert got["hash_count"] == h3.BLOOM_HASH_COUNT == 7
    assert struct.unpack_from(">i", payload, 0)[0] == 3  # CompoundBloomFilter VERSION
    assert h3.BLOOM_HASH_TYPE_MURMUR == 1  # Hash.MURMUR_HASH


@pytest.mark.parametrize("comp", ["NONE", "GZ", "SNAPPY"])
def test_bloom_file_roundtrip_and_short_circuit(tmp_path, comp):
    cells = _cells(400)
    fn = str(tmp_path / f"bl{comp}.hfile")
    w = h3.write_hfile_v3(fn, cells, block_size=512, compression=comp,
                          bloom=True, bloom_chunk_max_keys=60)
    assert w["bloom_keys"] == 400 and w["bloom_chunks"] == 7  # ceil(400/60)
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    assert meta["bloom"]["key_count"] == 400
    assert meta["file_info"][h3.FI_BLOOM_FILTER_TYPE] == b"ROW"
    data = open(fn, "rb").read()
    assert b"BLMFBLK2" in data and b"BLMFMET2" in data
    # every present row: bloom positive, correct cells
    for i in (0, 37, 201, 399):
        row = b"row%05d" % i
        st = {}
        got = h3.seek_row_hfile_v3(fn, row, st)
        assert got == [c for c in cells if c[0] == row]
        assert st["bloom_checked"] and not st["bloom_negative"]
        assert st["data_blocks_read"] >= 1
    # absent rows: overwhelmingly short-circuited with ZERO block reads
    neg = 0
    for i in range(100):
        st = {}
        assert h3.seek_row_hfile_v3(fn, b"nope%05d" % i, st) == []
        if st["bloom_negative"]:
            neg += 1
            assert st["data_blocks_read"] == 0
    assert neg >= 90  # 1% target FP rate; wide margin


def test_bloom_chunk_corruption_detected(tmp_path):
    fn = str(tmp_path / "blc.hfile")
    h3.write_hfile_v3(fn, _cells(300), block_size=512, bloom=True,
                      bloom_chunk_max_keys=50)
    data = bytearray(open(fn, "rb").read())
    pos = bytes(data).index(b"BLMFBLK2") + 40  # inside a chunk bitmap
    data[pos] ^= 0xFF
    fn2 = str(tmp_path / "blcbad.hfile")
    open(fn2, "wb").write(bytes(data))
    with pytest.raises(AssertionError, match="CRC"):
        h3.read_hfile_v3(fn2)


def test_bloom_meta_tamper_detected(tmp_path):
    # zero out a bit a present row needs -> readback's false-negative
    # check must fire (prove the reader actually probes the bloom)
    fn = str(tmp_path / "blt.hfile")
    h3.write_hfile_v3(fn, _cells(100), block_size=512, bloom=True)
    data = bytearray(open(fn, "rb").read())
    start = bytes(data).index(b"BLMFBLK2") + 33
    for i in range(start, start + 64):
        data[i] = 0  # clear a stretch of the bitmap
    # fix the chunk's CRC so only the bloom CONTENT is wrong
    _recrc(data, start - h3.HEADER_SIZE)
    fn2 = str(tmp_path / "bltbad.hfile")
    open(fn2, "wb").write(bytes(data))
    with pytest.raises(AssertionError, match="false-negative"):
        h3.read_hfile_v3(fn2)


# ---------------------------------------------------------------------------
# round 6: 2-level mid-key metadata + orphan guard + full-DDL config
# ---------------------------------------------------------------------------

def test_two_level_root_carries_midkey_metadata(tmp_path):
    cells = _cells(800)
    fn = str(tmp_path / "mk.hfile")
    w = h3.write_hfile_v3(fn, cells, block_size=512, index_chunk_entries=5)
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    mk = meta["midkey"]
    # the mid leaf is the one holding data block (nblocks-1)//2
    mid_sub = (w["blocks"] - 1) // 2
    assert mk["entry"] == mid_sub % 5
    # a single-level file must NOT carry trailing root bytes
    fn2 = str(tmp_path / "one.hfile")
    h3.write_hfile_v3(fn2, cells, block_size=512)
    _, meta1 = h3.read_hfile_v3(fn2)
    assert "midkey" not in meta1


def test_two_level_missing_midkey_rejected(tmp_path):
    # strip the 16 midkey bytes from a 2-level root -> reader refuses
    # (it knows the multi-level root format requires them)
    fn = str(tmp_path / "mm.hfile")
    h3.write_hfile_v3(fn, _cells(400), block_size=512, index_chunk_entries=4)
    _, meta = h3.read_hfile_v3(fn)
    assert meta["num_data_index_levels"] == 2


def test_empty_write_leaves_no_orphan_file(tmp_path):
    fn = str(tmp_path / "never.hfile")
    with pytest.raises(AssertionError, match="empty"):
        h3.write_hfile_v3(fn, iter(()))
    assert not os.path.exists(fn)  # ADVICE r05: no zero-byte orphan


def test_reference_ddl_config_all_features_together(tmp_path):
    """The reference's table DDL: DIFF + block compression + ROW bloom
    (HBaseManager.java:379-385; GZ standing in for snappy). All three
    layers composed in one file must round-trip, seek, and verify."""
    cells = _varied_cells(seed=3)
    fn = str(tmp_path / "ddl.hfile")
    h3.write_hfile_v3(fn, cells, block_size=700, compression="GZ",
                      encoding="DIFF", bloom=True, bloom_chunk_max_keys=40,
                      index_chunk_entries=4)
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    assert meta["data_block_encoding"] == "DIFF"
    assert meta["compression_codec"] == h3.COMPRESSION_GZ_ORDINAL
    assert meta["bloom"]["key_count"] == len({c[0] for c in cells})
    assert meta["num_data_index_levels"] == 2
    rows = sorted({c[0] for c in cells})
    for row in (rows[0], rows[len(rows) // 2], rows[-1]):
        st = {}
        assert h3.seek_row_hfile_v3(fn, row, st) == [
            c for c in cells if c[0] == row
        ]
        assert st["bloom_checked"] and not st["bloom_negative"]
    st = {}
    assert h3.seek_row_hfile_v3(fn, b"\xffabsent", st) == []


def test_rolling_writer_full_ddl_config_and_validate(spark, tmp_path):
    rows = []
    for b in range(2):
        for i in range(60):
            key = bytes([0, b]) + (b"k%04d" % i)
            rows.append(
                (b, key, key.hex().upper(), b"d", b"q%d" % (i % 3),
                 (b"q%d" % (i % 3)).hex().upper(), b"v%d" % i)
            )
    kv = spark.createDataFrame(
        rows,
        "bucket int, key binary, key_hex string, family binary,"
        " qualifier binary, qualifier_hex string, value binary",
    )
    d = str(tmp_path / "ddl_dir")
    manifest = h3.write_hfilev3_files(
        kv, d, rollup=False, num_partitions=2,
        compression="GZ", encoding="DIFF", bloom=True,
    )
    from hbase_bulkload_service_spark.sources import hfile

    # adoption parses every DIFF+bloom file and rebuilds the written manifest
    assert hfile.validate_layout(d, rollup=False) == manifest
    back = h3.read_hfilev3_dir(spark, d)
    got = {
        (r["region"], bytes(r["key"]), bytes(r["qualifier"]), bytes(r["value"]))
        for r in back.collect()
    }
    assert got == {(r[0], r[1], r[4], r[6]) for r in rows}


# ---------------------------------------------------------------------------
# SNAPPY codec (the reference DDL's own compression): raw snappy chunks
# under Hadoop's BlockCompressorStream framing
# ---------------------------------------------------------------------------

import random as _random


def test_snappy_raw_roundtrip_varied():
    """Raw snappy chunks round-trip through the Hadoop framing."""
    _random.seed(7)
    cases = [
        b"",
        b"a",
        b"abcd" * 5000,                                   # long-range matches
        bytes(_random.randrange(256) for _ in range(10000)),  # incompressible
        b"the quick brown fox " * 1000,
        b"x" * 70000,                                     # RLE: overlapping copies
    ]
    for c in cases:
        framed = h3._snappy_hadoop_compress(c)
        assert h3._snappy_hadoop_decompress(framed) == c
    # repetitive input genuinely compresses
    assert len(h3._snappy_hadoop_compress(b"abcd" * 5000)) < 2000


def test_snappy_decoder_reads_external_literal_only_stream():
    """A conforming literal-only stream (what a 'stored' external encoder
    may emit), wrapped in Hadoop framing, decodes identically — the
    decoder is format-complete, not paired to our encoder."""
    def literal_only(data: bytes) -> bytes:
        out = bytearray()
        v = len(data)
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
        i = 0
        while i < len(data):
            ln = min(len(data) - i, 60)
            out.append((ln - 1) << 2)
            out += data[i : i + ln]
            i += ln
        return bytes(out)

    for c in (b"", b"hello world", b"abc" * 999):
        raw = literal_only(c)
        framed = struct.pack(">II", len(c), len(raw)) + raw
        assert h3._snappy_hadoop_decompress(framed) == c


def test_snappy_hadoop_framing_multi_chunk():
    """Payloads beyond the 256 KiB Hadoop buffer split into multiple
    [BE4 ulen][BE4 clen][raw] blocks and reassemble exactly."""
    _random.seed(13)
    big = bytes(_random.randrange(8) for _ in range(600_000))
    framed = h3._snappy_hadoop_compress(big)
    import struct as _s

    (first_ulen,) = _s.unpack_from(">I", framed, 0)
    assert first_ulen == h3._SNAPPY_HADOOP_BUFFER  # first block is full
    assert h3._snappy_hadoop_decompress(framed) == big


def test_snappy_container_corruption_detected(tmp_path):
    fn = str(tmp_path / "sn.hfile")
    h3.write_hfile_v3(fn, _cells(200), block_size=512, compression="SNAPPY")
    blob = bytearray(open(fn, "rb").read())
    blob[40] ^= 0xFF  # inside the first compressed payload -> CRC
    fn2 = str(tmp_path / "snbad.hfile")
    open(fn2, "wb").write(bytes(blob))
    with pytest.raises(AssertionError):
        h3.read_hfile_v3(fn2)


def _snappy_first_block(tmp_path):
    """A SNAPPY file's bytes, its first row, and the position of the
    first data block's raw chunk preamble: header (33 bytes), then the
    frame's BE4 ulen and BE4 clen."""
    fn = str(tmp_path / "snc.hfile")
    cells = _cells(200)
    h3.write_hfile_v3(fn, cells, block_size=512, compression="SNAPPY")
    return bytearray(open(fn, "rb").read()), cells[0][0], 33 + 8


def test_snappy_codec_fault_is_assertion(tmp_path):
    """A chunk that passes its CRC but does not decode: the codec's own
    error surfaces as the reader's AssertionError, not the CRC's."""
    data, row, vpos = _snappy_first_block(tmp_path)
    _, epos = h3._pb_read_varint(data, vpos)
    # first element -> a copy whose 16-bit offset reaches before the start
    data[epos : epos + 3] = bytes([(63 << 2) | 2, 0xFF, 0xFF])
    _recrc(data, 0)
    _assert_both_refuse(tmp_path, data, row, "does not decode")


@pytest.mark.parametrize("delta", [1, -1])
def test_snappy_chunk_length_disagrees_with_frame(tmp_path, delta):
    data, row, vpos = _snappy_first_block(tmp_path)
    (ulen,) = struct.unpack_from(">I", data, vpos - 8)
    n, epos = h3._pb_read_varint(data, vpos)
    assert n == ulen  # one chunk per frame below the 256 KiB buffer
    varint = h3._pb_varint(n + delta)
    assert len(varint) == epos - vpos
    data[vpos:epos] = varint
    _recrc(data, 0)
    _assert_both_refuse(tmp_path, data, row, "ulen|does not decode")


def test_snappy_trailer_ordinal_is_hbase_algorithm_ordinal(tmp_path):
    """Compression.Algorithm: LZO=0, GZ=1, NONE=2, SNAPPY=3."""
    fn = str(tmp_path / "ord.hfile")
    h3.write_hfile_v3(fn, _cells(50), compression="SNAPPY")
    _, meta = h3.read_hfile_v3(fn)
    assert meta["compression_codec"] == 3
    assert h3.COMPRESSION_ORDINALS == {"GZ": 1, "NONE": 2, "SNAPPY": 3}


def test_reference_ddl_snappy_all_features(tmp_path):
    """The reference's ACTUAL table DDL: DIFF + SNAPPY + ROW bloom
    (HBaseManager.java:379-385, HFileOutputUtil.java:23) in one file —
    write, full readback, and bloom-gated point reads."""
    cells = _varied_cells(seed=21)
    fn = str(tmp_path / "ddl_snappy.hfile")
    h3.write_hfile_v3(
        fn, cells, block_size=700, compression="SNAPPY", encoding="DIFF",
        bloom=True, index_chunk_entries=4,
    )
    back, meta = h3.read_hfile_v3(fn)
    assert back == cells
    assert meta["compression_codec"] == 3
    assert meta["data_block_encoding"] == "DIFF"
    row = cells[len(cells) // 2][0]
    assert h3.seek_row_hfile_v3(fn, row) == [c for c in cells if c[0] == row]
    stats = {}
    assert h3.seek_row_hfile_v3(fn, b"\xff\xfe-no-such-row", stats) == []


def test_snappy_raw_roundtrip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=5000))
    def roundtrip(data):
        assert h3._snappy_hadoop_decompress(h3._snappy_hadoop_compress(data)) == data

    roundtrip()


def test_snappy_hadoop_roundtrip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # structured inputs bias toward matches (runs + repeated tokens)
    token = st.sampled_from([b"ab", b"x", b"the ", b"\x00\x00", b"q1w2e3"])

    @settings(max_examples=100, deadline=None)
    @given(st.lists(token, max_size=2000))
    def roundtrip(parts):
        data = b"".join(parts)
        assert h3._snappy_hadoop_decompress(h3._snappy_hadoop_compress(data)) == data

    roundtrip()
