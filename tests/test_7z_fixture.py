"""The reference decompresses .7z dumps via an external `7z e -so` pipe
(reference main.py:172-173); wiki_xml._open_stream reads them with a
pure-stdlib container reader (sources/sevenzip.py) instead, so
extraction is exercised wherever the tests run (VERDICT r2 item 2).
Where p7zip exists, two more tests check the fixture and the reader
against archives the real binary reads and writes."""

import pathlib
import shutil
import subprocess
import zlib

import pytest

from diachronic_spark.sources.sevenzip import (
    _CHUNK,
    SevenZipError,
    SevenZipReader,
    open_7z_stream,
    write_7z,
)
from diachronic_spark.sources.wiki_xml import _open_stream, iterparse_revisions

FIXTURES = pathlib.Path(__file__).resolve().parent.parent / "fixtures"
HAVE_7Z = shutil.which("7z") is not None

need_7z = pytest.mark.skipif(
    not HAVE_7Z, reason="7z binary not installed in this container"
)


def test_vendored_7z_structure_and_crcs():
    """Validate every integrity field the 7z format defines — signature,
    start-header CRC, next-header offset/size/CRC, and the folder CRC of
    the stored payload — against the sibling plaintext."""
    raw = (FIXTURES / "wiki_tiny.7z").read_bytes()
    xml = (FIXTURES / "wiki_tiny.xml").read_bytes()

    assert raw[:6] == bytes([0x37, 0x7A, 0xBC, 0xAF, 0x27, 0x1C])
    start = raw[12:32]
    assert int.from_bytes(raw[8:12], "little") == zlib.crc32(start)
    next_off = int.from_bytes(start[:8], "little")
    next_size = int.from_bytes(start[8:16], "little")
    next_crc = int.from_bytes(start[16:20], "little")
    assert next_off == len(xml)  # Copy coder: payload stored verbatim
    assert raw[32 : 32 + next_off] == xml
    header = raw[32 + next_off : 32 + next_off + next_size]
    assert len(header) == next_size and 32 + next_off + next_size == len(raw)
    assert zlib.crc32(header) == next_crc
    # folder CRC (little-endian u32 after the kCRC/AllAreDefined bytes)
    k_crc = header.index(bytes([0x0A, 0x01]))
    assert (
        int.from_bytes(header[k_crc + 2 : k_crc + 6], "little")
        == zlib.crc32(xml)
    )


def test_vendored_xml_parses_via_open_stream():
    """The plaintext twin flows through the same _open_stream →
    iterparse_revisions pipeline the 7z path feeds."""
    rows = list(iterparse_revisions(_open_stream(str(FIXTURES / "wiki_tiny.xml"))))
    assert len(rows) == 6
    titles = {r[3] for r in rows}
    assert titles == {"Alpha", "Category:Beta", "Gamma"}
    # iterparse emits ns as raw element text; the downstream schema casts
    ns = {r[3]: int(r[2]) for r in rows}
    assert ns["Category:Beta"] == 14 and ns["Alpha"] == 0


@need_7z
def test_vendored_7z_extracts_with_real_binary(tmp_path):
    """`7z e -so` on the hand-built archive must emit the exact payload."""
    out = subprocess.run(
        ["7z", "e", "-so", str(FIXTURES / "wiki_tiny.7z")],
        check=True,
        capture_output=True,
    ).stdout
    assert out == (FIXTURES / "wiki_tiny.xml").read_bytes()


@need_7z
def test_7z_open_stream_end_to_end(tmp_path):
    """Round-trip: archive built by the real 7z, streamed through
    _open_stream's stdlib reader, parsed by iterparse_revisions."""
    xml = (FIXTURES / "wiki_tiny.xml").read_bytes()
    src = tmp_path / "dump.xml"
    src.write_bytes(xml)
    arch = tmp_path / "dump.xml.7z"
    subprocess.run(
        ["7z", "a", str(arch), str(src)], check=True, capture_output=True
    )
    stream = _open_stream(str(arch))
    rows = list(iterparse_revisions(stream))
    assert len(rows) == 6
    direct = list(iterparse_revisions(_open_stream(str(src))))
    assert rows == direct


def test_7z_open_stream_reads_with_stdlib_reader():
    """_open_stream streams a .7z through the stdlib reader
    (sevenzip.py): the fixture parses end-to-end, row-identical to its
    plain-XML twin."""
    rows = list(
        iterparse_revisions(_open_stream(str(FIXTURES / "wiki_tiny.7z")))
    )
    assert len(rows) == 6
    direct = list(
        iterparse_revisions(_open_stream(str(FIXTURES / "wiki_tiny.xml")))
    )
    assert rows == direct


def test_pure_python_reader_extracts_fixture():
    r = SevenZipReader(str(FIXTURES / "wiki_tiny.7z"))
    assert r.names == ["wiki_tiny.xml"]
    assert r.read_all() == (FIXTURES / "wiki_tiny.xml").read_bytes()


@pytest.mark.parametrize("codec", ["copy", "lzma1", "lzma2", "bzip2"])
@pytest.mark.parametrize("encode_header", [False, True])
def test_7z_roundtrip_all_codecs(tmp_path, codec, encode_header):
    """write_7z → SevenZipReader round-trip for every supported coder,
    with both plain and encoded (compressed-metadata) headers — the
    layouts the real 7z tool emits."""
    payload = (FIXTURES / "wiki_tiny.xml").read_bytes() * 40
    p = tmp_path / f"t_{codec}_{encode_header}.7z"
    write_7z(str(p), "dump.xml", payload, codec=codec,
             encode_header=encode_header)
    r = SevenZipReader(str(p))
    assert r.names == ["dump.xml"]
    assert r.read_all() == payload


def test_7z_corrupt_payload_fails_crc(tmp_path):
    """A flipped payload byte must be caught by the folder CRC."""
    raw = bytearray((FIXTURES / "wiki_tiny.7z").read_bytes())
    raw[100] ^= 0xFF  # inside the stored payload (starts at 32)
    p = tmp_path / "bad.7z"
    p.write_bytes(bytes(raw))
    with pytest.raises(SevenZipError, match="CRC"):
        SevenZipReader(str(p)).read_all()


def test_7z_unsupported_coder_raises_clearly(tmp_path):
    """An unknown coder id fails loudly, not garbage-out. The header
    byte is patched and both container CRCs recomputed, so the failure
    is the coder dispatch, not the integrity check."""
    p = tmp_path / "t.7z"
    write_7z(str(p), "x", b"hello world" * 100, codec="lzma2")
    raw = bytearray(p.read_bytes())
    next_off = int.from_bytes(raw[12:20], "little")
    header = bytearray(raw[32 + next_off:])
    # flags(1-byte id + props)=0x21 followed by the LZMA2 id 0x21;
    # patch the id to 0x7F (unassigned)
    idx = header.index(b"\x21\x21")
    header[idx + 1] = 0x7F
    raw[32 + next_off:] = header
    raw[28:32] = zlib.crc32(bytes(header)).to_bytes(4, "little")
    raw[8:12] = zlib.crc32(bytes(raw[12:32])).to_bytes(4, "little")
    p.write_bytes(bytes(raw))
    with pytest.raises(SevenZipError, match="unsupported 7z coder"):
        SevenZipReader(str(p)).read_all()


def test_7z_streaming_chunked_reads():
    """open_7z_stream supports arbitrary read sizes (iterparse feeds)."""
    s = open_7z_stream(str(FIXTURES / "wiki_tiny.7z"))
    acc = b""
    while True:
        c = s.read(13)
        if not c:
            break
        acc += c
    assert acc == (FIXTURES / "wiki_tiny.xml").read_bytes()


@pytest.fixture(scope="module", params=["lzma2", "copy"])
def big_archive(request, tmp_path_factory):
    """A payload decoding to > 3 x _CHUNK; the LZMA2 one packs to a few
    KB, so a single packed read decodes to all of it at once."""
    payload = (FIXTURES / "wiki_tiny.xml").read_bytes()
    payload *= 3 * _CHUNK // len(payload) + 2
    p = tmp_path_factory.mktemp("big") / f"big_{request.param}.7z"
    write_7z(str(p), "dump.xml", payload, codec=request.param)
    return str(p), payload


@pytest.mark.parametrize("size", [13, 16384, -1])
def test_7z_stream_reads_large_payload_back(big_archive, size):
    """open_7z_stream returns the exact payload at any read size, across
    piece boundaries."""
    path, payload = big_archive
    s = open_7z_stream(path)
    parts = []
    while c := s.read(size):
        parts.append(c)
    assert b"".join(parts) == payload


def test_7z_pieces_bounded_at_any_ratio(big_archive):
    """No decoded piece exceeds _CHUNK, whatever the compression ratio:
    decoder memory stays constant per file."""
    path, payload = big_archive
    sizes = [len(c) for c in SevenZipReader(path).chunks()]
    assert sum(sizes) == len(payload)
    assert max(sizes) <= _CHUNK


def test_7z_roundtrip_property_random_payloads(tmp_path):
    """Property: write_7z → SevenZipReader is identity for arbitrary
    byte payloads (incl. empty-ish, binary, repetitive) across every
    codec × header-encoding combination."""
    from hypothesis import given, settings, strategies as st

    codecs = ["copy", "lzma1", "lzma2", "bzip2"]
    counter = [0]

    @settings(max_examples=25, deadline=None)
    @given(
        payload=st.binary(min_size=1, max_size=50_000),
        codec=st.sampled_from(codecs),
        enc=st.booleans(),
    )
    def prop(payload, codec, enc):
        counter[0] += 1
        p = tmp_path / f"prop_{counter[0]}.7z"
        write_7z(str(p), "f.bin", payload, codec=codec, encode_header=enc)
        r = SevenZipReader(str(p))
        assert r.read_all() == payload
        assert r.names == ["f.bin"]

    prop()
