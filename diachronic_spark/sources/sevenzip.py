"""Pure-stdlib .7z container reader/writer (SURVEY §2.1 S4).

The reference decompresses wiki dumps by piping an external binary —
``7z e -so file.7z`` (reference main.py:172-173). Executors need not
have p7zip installed: ``wiki_xml._open_stream`` reads every .7z dump
through this module, a from-spec implementation of the 7z container
format (7-Zip's public DOC/7zFormat.txt) whose actual decoding is
done by stdlib codecs — ``lzma`` (raw LZMA1/LZMA2 filters), ``bz2``,
or passthrough Copy.

Scope (loud errors outside it):
- single-coder folders (Copy 0x00, LZMA1 0x030101, LZMA2 0x21,
  BZip2 0x040202) — the codecs Wikimedia dumps actually use;
- plain (0x01) and encoded (0x17) headers, the latter decoded with the
  same folder machinery;
- no encryption, no BCJ/Delta filter chains, no multi-coder bind
  graphs.

Reading is STREAMING: ``SevenZipReader.chunks()`` yields decompressed
pieces folder by folder without materializing the payload. Each piece
is at most ``_CHUNK`` (1 MiB) at any compression ratio — the codec is
asked for bounded output and drained before more packed input is fed
— so a multi-GB dump flows through the XML iterparse in
O(dict_size + _CHUNK) memory, the same shape as the reference's
subprocess pipe. ``open_7z_stream`` wraps the pieces in
``_ChunkStream``, whose reads copy only the bytes they return, so the
whole read is linear in the payload at any read size.

``write_7z`` builds single-file archives (used by the fixture tool and
the round-trip tests; the reference never writes 7z, so this exists as
test support, not a sink).
"""

from __future__ import annotations

import bz2
import io
import lzma
import zlib
from dataclasses import dataclass, field
from typing import Callable, Iterator

SIGNATURE = bytes([0x37, 0x7A, 0xBC, 0xAF, 0x27, 0x1C])

# Property ids (7zFormat.txt)
K_END = 0x00
K_HEADER = 0x01
K_MAIN_STREAMS_INFO = 0x04
K_FILES_INFO = 0x05
K_PACK_INFO = 0x06
K_UNPACK_INFO = 0x07
K_SUBSTREAMS_INFO = 0x08
K_SIZE = 0x09
K_CRC = 0x0A
K_FOLDER = 0x0B
K_CODERS_UNPACK_SIZE = 0x0C
K_NUM_UNPACK_STREAM = 0x0D
K_EMPTY_STREAM = 0x0E
K_NAME = 0x11
K_ENCODED_HEADER = 0x17

CODER_COPY = b"\x00"
CODER_LZMA2 = b"\x21"
CODER_LZMA1 = b"\x03\x01\x01"
CODER_BZIP2 = b"\x04\x02\x02"

_CHUNK = 1 << 20


class SevenZipError(ValueError):
    pass


class _Reader:
    """Cursor over a bytes buffer with 7z primitive decoders."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def bytes_(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise SevenZipError("truncated 7z header")
        self.pos += n
        return b

    def number(self) -> int:
        """7z variable-length UINT64: i leading 1-bits in the first
        byte select i little-endian low bytes; the remaining 7-i bits
        hold the high part."""
        first = self.byte()
        mask = 0x80
        value = 0
        for i in range(8):
            if not (first & mask):
                value |= (first & (mask - 1)) << (8 * i)
                return value
            value |= self.byte() << (8 * i)
            mask >>= 1
        return value

    def bitvector(self, n: int) -> list[bool]:
        out = []
        b = 0
        mask = 0
        for _ in range(n):
            if mask == 0:
                b = self.byte()
                mask = 0x80
            out.append(bool(b & mask))
            mask >>= 1
        return out

    def bitvector_or_all(self, n: int) -> list[bool]:
        """AllAreDefined byte then either nothing or an explicit vector."""
        if self.byte():
            return [True] * n
        return self.bitvector(n)


@dataclass
class _Coder:
    coder_id: bytes
    props: bytes
    n_in: int = 1
    n_out: int = 1


@dataclass
class _Folder:
    coders: list[_Coder] = field(default_factory=list)
    unpack_sizes: list[int] = field(default_factory=list)
    crc: int | None = None
    # index into the archive-wide pack-size list for this folder's
    # first packed stream
    pack_index: int = 0
    n_pack_streams: int = 1

    @property
    def unpack_size(self) -> int:
        # single-coder scope: the folder output is its coder's output
        return self.unpack_sizes[-1] if self.unpack_sizes else 0


@dataclass
class _StreamsInfo:
    pack_pos: int = 0
    pack_sizes: list[int] = field(default_factory=list)
    folders: list[_Folder] = field(default_factory=list)
    # substream partitioning (multi-file folders); empty = 1:1
    num_unpack_streams: list[int] = field(default_factory=list)
    substream_sizes: list[int] = field(default_factory=list)


def _parse_folder(r: _Reader) -> _Folder:
    f = _Folder()
    n_coders = r.number()
    total_in = total_out = 0
    for _ in range(n_coders):
        flags = r.byte()
        id_size = flags & 0x0F
        coder_id = r.bytes_(id_size)
        n_in = n_out = 1
        if flags & 0x10:  # complex
            n_in = r.number()
            n_out = r.number()
        props = b""
        if flags & 0x20:
            props = r.bytes_(r.number())
        if flags & 0x80:
            raise SevenZipError("alternative coder methods unsupported")
        f.coders.append(_Coder(coder_id, props, n_in, n_out))
        total_in += n_in
        total_out += n_out
    n_bind = total_out - 1
    for _ in range(n_bind):
        r.number()  # in index
        r.number()  # out index
    n_packed = total_in - n_bind
    if n_packed > 1:
        for _ in range(n_packed):
            r.number()
    f.n_pack_streams = n_packed
    if len(f.coders) != 1:
        raise SevenZipError(
            "multi-coder 7z folders (filter chains / BCJ) unsupported; "
            "re-compress with plain LZMA/LZMA2"
        )
    return f


def _parse_streams_info(r: _Reader) -> _StreamsInfo:
    si = _StreamsInfo()
    prop = r.byte()
    if prop == K_PACK_INFO:
        si.pack_pos = r.number()
        n_pack = r.number()
        while True:
            t = r.byte()
            if t == K_END:
                break
            if t == K_SIZE:
                si.pack_sizes = [r.number() for _ in range(n_pack)]
            elif t == K_CRC:
                defined = r.bitvector_or_all(n_pack)
                for d in defined:
                    if d:
                        r.bytes_(4)
            else:
                raise SevenZipError(f"unexpected PackInfo prop {t:#x}")
        prop = r.byte()
    if prop == K_UNPACK_INFO:
        if r.byte() != K_FOLDER:
            raise SevenZipError("UnpackInfo without kFolder")
        n_folders = r.number()
        if r.byte() != 0:
            raise SevenZipError("external folder definitions unsupported")
        si.folders = [_parse_folder(r) for _ in range(n_folders)]
        # assign pack-stream indexes in order
        pi = 0
        for f in si.folders:
            f.pack_index = pi
            pi += f.n_pack_streams
        if r.byte() != K_CODERS_UNPACK_SIZE:
            raise SevenZipError("UnpackInfo without kCodersUnpackSize")
        for f in si.folders:
            n_out = sum(c.n_out for c in f.coders)
            f.unpack_sizes = [r.number() for _ in range(n_out)]
        while True:
            t = r.byte()
            if t == K_END:
                break
            if t == K_CRC:
                defined = r.bitvector_or_all(n_folders)
                for f, d in zip(si.folders, defined):
                    if d:
                        f.crc = int.from_bytes(r.bytes_(4), "little")
            else:
                raise SevenZipError(f"unexpected UnpackInfo prop {t:#x}")
        prop = r.byte()
    if prop == K_SUBSTREAMS_INFO:
        n_folders = len(si.folders)
        si.num_unpack_streams = [1] * n_folders
        t = r.byte()
        if t == K_NUM_UNPACK_STREAM:
            si.num_unpack_streams = [r.number() for _ in range(n_folders)]
            t = r.byte()
        if t == K_SIZE:
            sizes = []
            for f, n in zip(si.folders, si.num_unpack_streams):
                rem = f.unpack_size
                for _ in range(n - 1):
                    s = r.number()
                    sizes.append(s)
                    rem -= s
                if n:
                    sizes.append(rem)
            si.substream_sizes = sizes
            t = r.byte()
        if t == K_CRC:
            n_digests = sum(
                n
                for f, n in zip(si.folders, si.num_unpack_streams)
                if not (n == 1 and f.crc is not None)
            )
            defined = r.bitvector_or_all(n_digests)
            for d in defined:
                if d:
                    r.bytes_(4)
            t = r.byte()
        if t != K_END:
            raise SevenZipError(f"unexpected SubStreamsInfo prop {t:#x}")
        prop = r.byte()
    if prop != K_END:
        raise SevenZipError(f"unexpected StreamsInfo prop {prop:#x}")
    return si


def _lzma1_filter(props: bytes) -> dict:
    if len(props) != 5:
        raise SevenZipError("bad LZMA1 props")
    b0 = props[0]
    lc, rem = b0 % 9, b0 // 9
    lp, pb = rem % 5, rem // 5
    return {
        "id": lzma.FILTER_LZMA1,
        "lc": lc,
        "lp": lp,
        "pb": pb,
        "dict_size": int.from_bytes(props[1:5], "little"),
    }


def _lzma2_dict_size(props: bytes) -> int:
    if len(props) != 1:
        raise SevenZipError("bad LZMA2 props")
    code = props[0]
    if code > 40:
        raise SevenZipError("bad LZMA2 dict-size code")
    if code == 40:
        return 0xFFFFFFFF
    return (2 | (code & 1)) << (code // 2 + 11)


def _copy(data: bytes) -> Iterator[bytes]:
    yield data


def _folder_decoder(coder: _Coder) -> Callable[[bytes], Iterator[bytes]]:
    """Incremental ``decode(packed) -> pieces`` for one coder. A stdlib
    codec is asked for at most ``_CHUNK`` bytes a call and drained
    until it needs more input (or its stream ends), so no piece exceeds
    ``_CHUNK`` at any compression ratio."""
    cid = coder.coder_id
    if cid == CODER_COPY:
        return _copy
    if cid == CODER_LZMA2:
        dec = lzma.LZMADecompressor(
            format=lzma.FORMAT_RAW,
            filters=[
                {
                    "id": lzma.FILTER_LZMA2,
                    "dict_size": _lzma2_dict_size(coder.props),
                }
            ],
        )
    elif cid == CODER_LZMA1:
        dec = lzma.LZMADecompressor(
            format=lzma.FORMAT_RAW, filters=[_lzma1_filter(coder.props)]
        )
    elif cid == CODER_BZIP2:
        dec = bz2.BZ2Decompressor()
    else:
        raise SevenZipError(
            f"unsupported 7z coder id {cid.hex()}; supported: Copy, "
            "LZMA1, LZMA2, BZip2"
        )

    def decode(data: bytes) -> Iterator[bytes]:
        out = dec.decompress(data, _CHUNK)
        while True:
            if out:
                yield out
            if dec.needs_input or dec.eof:
                return
            out = dec.decompress(b"", _CHUNK)

    return decode


class SevenZipReader:
    """Parse a .7z archive; stream its decompressed payload.

    ``names`` lists member files; ``chunks()`` streams the concatenated
    unpack streams (== the single member for one-file dump archives,
    which is the only read shape the pipeline needs — same contract as
    ``7z e -so``, which also concatenates members to stdout).
    """

    def __init__(self, path: str):
        self.path = path
        self.names: list[str] = []
        with open(path, "rb") as fh:
            head = fh.read(32)
            if len(head) != 32 or head[:6] != SIGNATURE:
                raise SevenZipError(f"{path}: not a 7z archive")
            start = head[12:32]
            if int.from_bytes(head[8:12], "little") != zlib.crc32(start):
                raise SevenZipError(f"{path}: start-header CRC mismatch")
            next_off = int.from_bytes(start[:8], "little")
            next_size = int.from_bytes(start[8:16], "little")
            next_crc = int.from_bytes(start[16:20], "little")
            fh.seek(32 + next_off)
            header = fh.read(next_size)
        if len(header) != next_size or zlib.crc32(header) != next_crc:
            raise SevenZipError(f"{path}: next-header CRC mismatch")
        r = _Reader(header)
        t = r.byte()
        if t == K_ENCODED_HEADER:
            si = _parse_streams_info(r)
            raw = b"".join(self._decode_folders(si, verify=True))
            r = _Reader(raw)
            t = r.byte()
        if t != K_HEADER:
            raise SevenZipError(f"unexpected top-level prop {t:#x}")
        self.streams = _StreamsInfo()
        t = r.byte()
        if t == K_MAIN_STREAMS_INFO:
            self.streams = _parse_streams_info(r)
            t = r.byte()
        if t == K_FILES_INFO:
            self._parse_files_info(r)
            t = r.byte()
        if t != K_END:
            raise SevenZipError(f"unexpected header prop {t:#x}")

    def _parse_files_info(self, r: _Reader) -> None:
        n_files = r.number()
        while True:
            prop = r.byte()
            if prop == K_END:
                break
            size = r.number()
            block = _Reader(r.bytes_(size))
            if prop == K_NAME:
                if block.byte() != 0:
                    raise SevenZipError("external file names unsupported")
                raw = block.buf[block.pos :]
                try:
                    names = raw.decode("utf-16-le").split("\x00")
                except UnicodeDecodeError as exc:
                    raise SevenZipError(
                        f"{self.path}: corrupt file-name block ({exc})"
                    ) from exc
                self.names = [n for n in names if n][:n_files]
            elif prop == K_EMPTY_STREAM:
                # empty files / directories have names but no payload
                # substream, so `names` would misalign with substreams.
                # Out of documented scope (single-payload archives) —
                # refuse loudly instead of yielding shifted content.
                if any(block.buf[block.pos :]):
                    raise SevenZipError(
                        f"{self.path}: archive contains empty files or "
                        "directories (kEmptyStream); only all-payload "
                        "archives are supported"
                    )
            # other property blocks (times, attributes) are skipped:
            # the pipeline needs payload + names

    def _decode_folders(
        self, si: _StreamsInfo, verify: bool = False
    ) -> Iterator[bytes]:
        with open(self.path, "rb") as fh:
            pack_offsets = []
            off = 32 + si.pack_pos
            for s in si.pack_sizes:
                pack_offsets.append(off)
                off += s
            for f in si.folders:
                decode = _folder_decoder(f.coders[0])
                fh.seek(pack_offsets[f.pack_index])
                remaining_in = sum(
                    si.pack_sizes[f.pack_index : f.pack_index + f.n_pack_streams]
                )
                remaining_out = f.unpack_size
                crc = 0
                while remaining_in > 0 and remaining_out > 0:
                    data = fh.read(min(_CHUNK, remaining_in))
                    if not data:
                        raise SevenZipError("truncated packed stream")
                    remaining_in -= len(data)
                    for out in decode(data):
                        out = out[:remaining_out]
                        remaining_out -= len(out)
                        if verify or f.crc is not None:
                            crc = zlib.crc32(out, crc)
                        if out:
                            yield out
                if remaining_out != 0:
                    raise SevenZipError(
                        f"{self.path}: folder decoded short by "
                        f"{remaining_out} bytes"
                    )
                if f.crc is not None and crc != f.crc:
                    raise SevenZipError(f"{self.path}: folder CRC mismatch")

    def chunks(self) -> Iterator[bytes]:
        return self._decode_folders(self.streams)

    def read_all(self) -> bytes:
        return b"".join(self.chunks())


class _ChunkStream(io.RawIOBase):
    """File-like over an iterator of byte pieces (feeds ET.iterparse).

    Holds a ``memoryview`` of the current piece and a read offset, so
    each ``readinto`` copies only the bytes it returns: linear in the
    payload, whatever the read size."""

    def __init__(self, it: Iterator[bytes]):
        self._it = it
        self._view = memoryview(b"")
        self._pos = 0

    def readable(self) -> bool:
        return True

    def readinto(self, b) -> int:
        while self._pos == len(self._view):
            nxt = next(self._it, None)
            if nxt is None:
                return 0
            self._view = memoryview(nxt)
            self._pos = 0
        n = min(len(b), len(self._view) - self._pos)
        b[:n] = self._view[self._pos : self._pos + n]
        self._pos += n
        return n


def open_7z_stream(path: str) -> io.BufferedReader:
    """Streaming decompressed payload of a .7z archive — the in-process
    replacement for the reference's ``7z e -so`` pipe."""
    return io.BufferedReader(_ChunkStream(SevenZipReader(path).chunks()))


# --------------------------------------------------------------------------
# Writer (single file, single folder) — fixture/round-trip support.


def encode_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    for extra in range(1, 8):
        if n < 1 << (8 * extra + 7 - extra):
            first = (0x100 - (1 << (8 - extra))) | (n >> (8 * extra))
            low = n & ((1 << (8 * extra)) - 1)
            return bytes([first]) + low.to_bytes(extra, "little")
    return bytes([0xFF]) + n.to_bytes(8, "little")


def _compress_payload(payload: bytes, codec: str) -> tuple[bytes, bytes, bytes]:
    """(packed, coder_id, coder_props)"""
    if codec == "copy":
        return payload, CODER_COPY, b""
    if codec == "lzma2":
        dict_size = 1 << 24
        packed = lzma.compress(
            payload,
            format=lzma.FORMAT_RAW,
            filters=[{"id": lzma.FILTER_LZMA2, "dict_size": dict_size}],
        )
        # dict-size code: smallest code whose size >= dict_size
        for code in range(41):
            if _lzma2_dict_size(bytes([code])) >= dict_size:
                return packed, CODER_LZMA2, bytes([code])
        raise SevenZipError(
            f"no LZMA2 dict-size code for dict_size={dict_size}"
        )
    if codec == "lzma1":
        filt = {"id": lzma.FILTER_LZMA1, "lc": 3, "lp": 0, "pb": 2,
                "dict_size": 1 << 24}
        packed = lzma.compress(
            payload, format=lzma.FORMAT_RAW, filters=[filt]
        )
        props = bytes([(filt["pb"] * 5 + filt["lp"]) * 9 + filt["lc"]])
        props += filt["dict_size"].to_bytes(4, "little")
        return packed, CODER_LZMA1, props
    if codec == "bzip2":
        return bz2.compress(payload), CODER_BZIP2, b""
    raise SevenZipError(f"unknown codec {codec!r}")


def _streams_info_block(
    pack_pos: int, packed: bytes, coder_id: bytes, props: bytes,
    unpacked_len: int, crc: int,
) -> bytes:
    """kPackInfo/kUnpackInfo for one packed stream, one 1-coder folder."""
    b = bytearray([K_PACK_INFO])
    b += encode_number(pack_pos) + encode_number(1)
    b += bytes([K_SIZE]) + encode_number(len(packed))
    b += bytes([K_END])
    b += bytes([K_UNPACK_INFO, K_FOLDER])
    b += encode_number(1) + bytes([0])  # one folder, internal
    flags = len(coder_id) | (0x20 if props else 0)
    b += encode_number(1) + bytes([flags]) + coder_id
    if props:
        b += encode_number(len(props)) + props
    b += bytes([K_CODERS_UNPACK_SIZE]) + encode_number(unpacked_len)
    b += bytes([K_CRC, 0x01]) + crc.to_bytes(4, "little")
    b += bytes([K_END, K_END])
    return bytes(b)


def write_7z(
    path: str,
    name: str,
    payload: bytes,
    codec: str = "copy",
    encode_header: bool = False,
) -> None:
    """Single-file .7z archive. ``encode_header=True`` compresses the
    metadata header itself into a trailing packed stream referenced by
    a kEncodedHeader stub — the layout the real 7z tool writes — so
    the reader's encoded-header branch has an in-repo artifact."""
    packed, coder_id, props = _compress_payload(payload, codec)
    crc = zlib.crc32(payload) & 0xFFFFFFFF

    header = bytearray([K_HEADER, K_MAIN_STREAMS_INFO])
    header += _streams_info_block(0, packed, coder_id, props, len(payload), crc)
    header += bytes([K_FILES_INFO])
    header += encode_number(1)  # one file
    name_block = bytes([0]) + name.encode("utf-16-le") + b"\x00\x00"
    header += bytes([K_NAME]) + encode_number(len(name_block)) + name_block
    header += bytes([K_END, K_END])
    header = bytes(header)

    body = packed
    if encode_header:
        h_packed, h_id, h_props = _compress_payload(header, "lzma1")
        stub = bytes([K_ENCODED_HEADER]) + _streams_info_block(
            len(packed), h_packed, h_id, h_props, len(header),
            zlib.crc32(header) & 0xFFFFFFFF,
        )
        body = packed + h_packed
        header = stub

    start = (
        len(body).to_bytes(8, "little")
        + len(header).to_bytes(8, "little")
        + (zlib.crc32(header) & 0xFFFFFFFF).to_bytes(4, "little")
    )
    out = bytearray(SIGNATURE)
    out += bytes([0x00, 0x04])
    out += (zlib.crc32(start) & 0xFFFFFFFF).to_bytes(4, "little")
    out += start
    out += body
    out += header
    with open(path, "wb") as fh:
        fh.write(out)
