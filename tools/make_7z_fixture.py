"""Build fixtures/wiki_tiny.7z — a minimal single-file .7z archive (Copy
codec, no compression) so the reference's 7z decompress step (reference
main.py:172-173, read here by wiki_xml._open_stream through
sources/sevenzip.py) has an in-repo artifact to run against.

The container this repo is developed in has neither p7zip nor py7zr, so
the archive is written directly from the public 7z format spec
(7-Zip's DOC/7zFormat.txt): signature header, packed stream, then an
end header (PackInfo / UnpackInfo with a single Copy coder / FilesInfo
with one UTF-16LE name), all integrity-protected by the format's three
CRC32s. ``tests/test_7z_fixture.py`` validates those CRCs on every
run and extracts with the real ``7z e -so`` when the binary is present.

Usage: python tools/make_7z_fixture.py  (rewrites fixtures/wiki_tiny.*)
"""

from __future__ import annotations

import pathlib
import zlib

SIGNATURE = bytes([0x37, 0x7A, 0xBC, 0xAF, 0x27, 0x1C])  # '7z\xbc\xaf\x27\x1c'
VERSION = bytes([0x00, 0x04])

# Property ids from 7zFormat.txt
K_END = 0x00
K_HEADER = 0x01
K_MAIN_STREAMS_INFO = 0x04
K_FILES_INFO = 0x05
K_PACK_INFO = 0x06
K_UNPACK_INFO = 0x07
K_SIZE = 0x09
K_CRC = 0x0A
K_FOLDER = 0x0B
K_CODERS_UNPACK_SIZE = 0x0C
K_NAME = 0x11


def encode_number(n: int) -> bytes:
    """7z variable-length UINT64: i leading 1-bits in the first byte
    select i little-endian low bytes; the remaining 7-i first-byte bits
    hold the high part."""
    if n < 0x80:
        return bytes([n])
    for extra in range(1, 8):
        if n < 1 << (8 * extra + 7 - extra):
            first = (0x100 - (1 << (8 - extra))) | (n >> (8 * extra))
            low = n & ((1 << (8 * extra)) - 1)
            return bytes([first]) + low.to_bytes(extra, "little")
    return bytes([0xFF]) + n.to_bytes(8, "little")


def build_7z(name: str, payload: bytes) -> bytes:
    """Single-file archive, Copy coder (id 0x00), store only."""
    crc = zlib.crc32(payload) & 0xFFFFFFFF

    header = bytearray([K_HEADER, K_MAIN_STREAMS_INFO])
    # PackInfo: pack pos 0, one packed stream of len(payload) bytes
    header += bytes([K_PACK_INFO])
    header += encode_number(0) + encode_number(1)
    header += bytes([K_SIZE]) + encode_number(len(payload))
    header += bytes([K_END])
    # UnpackInfo: one folder = one Copy coder (flags 0x01 = 1-byte id,
    # not complex, no attributes), unpack size, folder CRC
    header += bytes([K_UNPACK_INFO, K_FOLDER])
    header += encode_number(1) + bytes([0x00])  # 1 folder, not external
    header += encode_number(1) + bytes([0x01, 0x00])  # 1 coder: Copy
    header += bytes([K_CODERS_UNPACK_SIZE]) + encode_number(len(payload))
    header += bytes([K_CRC, 0x01]) + crc.to_bytes(4, "little")
    header += bytes([K_END])
    header += bytes([K_END])  # end of MainStreamsInfo
    # FilesInfo: one file, kName property (external=0, UTF-16LE + NUL)
    name_bytes = b"\x00" + name.encode("utf-16-le") + b"\x00\x00"
    header += bytes([K_FILES_INFO]) + encode_number(1)
    header += bytes([K_NAME]) + encode_number(len(name_bytes)) + name_bytes
    header += bytes([K_END])  # end of FilesInfo properties
    header += bytes([K_END])  # end of Header
    header = bytes(header)

    next_header_crc = zlib.crc32(header) & 0xFFFFFFFF
    start = (
        len(payload).to_bytes(8, "little")  # NextHeaderOffset (after byte 32)
        + len(header).to_bytes(8, "little")  # NextHeaderSize
        + next_header_crc.to_bytes(4, "little")
    )
    start_crc = zlib.crc32(start) & 0xFFFFFFFF
    return (
        SIGNATURE
        + VERSION
        + start_crc.to_bytes(4, "little")
        + start
        + payload
        + header
    )


def tiny_wiki_xml() -> str:
    """Three pages / six revisions exercising the reference's dedup
    semantics (same-day double edit on Alpha, ns-14 page filtered by
    snapshot ns==0, redirect text on Gamma)."""
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    from diachronic_spark.sources.wiki_xml import MEDIAWIKI_NS

    def page(title, ns, pid, revs):
        body = "".join(
            f"<revision><id>{rid}</id><timestamp>{ts}</timestamp>"
            f"<text>{text}</text></revision>"
            for rid, ts, text in revs
        )
        return (
            f"<page><title>{title}</title><ns>{ns}</ns><id>{pid}</id>"
            f"{body}</page>"
        )

    pages = [
        page("Alpha", 0, 1, [
            (101, "2024-03-01T08:00:00Z", "alpha v1"),
            (102, "2024-03-01T17:30:00Z", "alpha v2 same day"),
            (103, "2024-03-02T09:00:00Z", "alpha v3"),
        ]),
        page("Category:Beta", 14, 2, [
            (201, "2024-03-01T10:00:00Z", "category page"),
        ]),
        page("Gamma", 0, 3, [
            (301, "2024-02-28T23:59:59Z", "#REDIRECT [[Alpha]]"),
            (302, "2024-03-03T00:00:01Z", "gamma rewritten"),
        ]),
    ]
    return (
        f'<mediawiki xmlns="{MEDIAWIKI_NS}">' + "".join(pages) + "</mediawiki>"
    )


def main() -> None:
    fixtures = pathlib.Path(__file__).resolve().parent.parent / "fixtures"
    xml = tiny_wiki_xml().encode("utf-8")
    (fixtures / "wiki_tiny.xml").write_bytes(xml)
    (fixtures / "wiki_tiny.7z").write_bytes(build_7z("wiki_tiny.xml", xml))
    print(f"wrote wiki_tiny.xml ({len(xml)} B) and wiki_tiny.7z")


if __name__ == "__main__":
    main()
