"""Deterministic ICO (favicon) fixture.

Nine icons covering the container's axes: PNG entries (RGB and RGBA,
odd dims), DIB entries at 32 bpp (real alpha plane AND the legacy
all-zero-alpha form that falls back to the AND mask), 24 bpp with
row-stride padding, 8 bpp palette with clr_used, multi-entry
directories (largest-entry selection and the lowest-index tie-break),
and the width/height byte 0 → 256 encoding rule.

Independence structure: the TRUTH rows are computed from the raw RGBA
arrays with plain loop math BEFORE any container assembly (the
gif/bmp fixture pattern) — the codec under test never touches them.
DIB entries are assembled here byte-by-byte (header, palette,
bottom-up rows, AND mask) independently of functions/bmp.py. PNG
entries reuse functions/png.py's encoder — the lossless encode→decode
pair that q143/q144 already adjudicate against their own independent
truth, the same reuse q151's nested-frame pipeline makes.
"""

from __future__ import annotations

import hashlib
import os
import struct

from ..functions import png as PNG

_HERE = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
ICOS_DIR = os.path.join(_HERE, "fixtures", "ico")
TRUTH_PATH = os.path.join(_HERE, "fixtures", "ico_truth.parquet")


def _rgba_at(ico_id: int, x: int, y: int, k: int) -> int:
    if k == 3:
        return (ico_id * 29 + y * 17 + x * 5 + 64) % 256
    return (ico_id * 13 + y * 31 + x * 7 + k * 101) % 256


def _mask_at(ico_id: int, x: int, y: int) -> int:
    """AND-mask bit (1 = transparent)."""
    return 1 if (x + y + ico_id) % 3 == 0 else 0


def _raw_rgba(ico_id: int, w: int, h: int, alpha: str) -> list:
    """Top-down rows of (r, g, b, a) — the pre-assembly truth pixels.

    ``alpha``: 'plane' = the formula alpha channel; 'mask' = 0/255
    from the AND-mask formula; 'opaque' = 255.
    """
    rows = []
    for y in range(h):
        row = []
        for x in range(w):
            r = _rgba_at(ico_id, x, y, 0)
            g = _rgba_at(ico_id, x, y, 1)
            b = _rgba_at(ico_id, x, y, 2)
            if alpha == "plane":
                a = _rgba_at(ico_id, x, y, 3)
            elif alpha == "mask":
                a = 0 if _mask_at(ico_id, x, y) else 255
            else:
                a = 255
            row.append((r, g, b, a))
        rows.append(row)
    return rows


def _dib_entry(
    ico_id: int, w: int, h: int, bpp: int, alpha: str
) -> bytes:
    """Assemble one headerless DIB entry (doubled height, XOR rows
    bottom-up, palette for 8 bpp, 1-bit AND mask) with plain loops."""
    hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, 2 * h, 1, bpp, 0, 0, 0, 0,
        (5 if bpp == 8 else 0), 0,
    )
    out = bytearray(hdr)
    pal = []
    if bpp == 8:
        # 5-entry palette derived from the same formula; index chosen
        # per pixel below so the raw-array truth stays the anchor
        pal = [
            (
                _rgba_at(ico_id, i, 0, 0),
                _rgba_at(ico_id, i, 0, 1),
                _rgba_at(ico_id, i, 0, 2),
            )
            for i in range(5)
        ]
        for r, g, b in pal:
            out += bytes((b, g, r, 0))
    xor_stride = (w * bpp // 8 + 3) & ~3
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            if bpp == 8:
                row.append((ico_id + x * 3 + y * 7) % 5)
            else:
                r = _rgba_at(ico_id, x, y, 0)
                g = _rgba_at(ico_id, x, y, 1)
                b = _rgba_at(ico_id, x, y, 2)
                if bpp == 24:
                    row += bytes((b, g, r))
                else:
                    a = (
                        _rgba_at(ico_id, x, y, 3)
                        if alpha == "plane"
                        else 0  # legacy zero-alpha plane
                    )
                    row += bytes((b, g, r, a))
        row += bytes(xor_stride - len(row))
        out += row
    and_stride = ((w + 31) // 32) * 4
    for y in range(h - 1, -1, -1):
        bits = bytearray(and_stride)
        for x in range(w):
            if _mask_at(ico_id, x, y):
                bits[x // 8] |= 0x80 >> (x % 8)
        out += bits
    return bytes(out)


def _dib_truth_rgba(ico_id: int, w: int, h: int, bpp: int, alpha: str) -> list:
    """Truth pixels for a DIB entry, from the same raw formulas the
    assembler consumed — loop math, no codec.

    A 32 bpp alpha plane whose formula bytes are all zero reads as the
    legacy zero-alpha form, so its alpha comes from the AND mask.
    """
    if bpp == 32 and alpha == "plane" and not any(
        _rgba_at(ico_id, x, y, 3) for y in range(h) for x in range(w)
    ):
        alpha = "zero"
    rows = []
    for y in range(h):
        row = []
        for x in range(w):
            if bpp == 8:
                i = (ico_id + x * 3 + y * 7) % 5
                r, g, b = (
                    _rgba_at(ico_id, i, 0, 0),
                    _rgba_at(ico_id, i, 0, 1),
                    _rgba_at(ico_id, i, 0, 2),
                )
            else:
                r = _rgba_at(ico_id, x, y, 0)
                g = _rgba_at(ico_id, x, y, 1)
                b = _rgba_at(ico_id, x, y, 2)
            if bpp == 32 and alpha == "plane":
                a = _rgba_at(ico_id, x, y, 3)
            else:  # 8/24 bpp, and the legacy zero-alpha 32 bpp form
                a = 0 if _mask_at(ico_id, x, y) else 255
            row.append((r, g, b, a))
        rows.append(row)
    return rows


def _png_entry(ico_id: int, w: int, h: int, channels: int) -> bytes:
    raw = _raw_rgba(ico_id, w, h, "plane" if channels == 4 else "opaque")
    buf = bytearray()
    for row in raw:
        for (r, g, b, a) in row:
            buf += bytes((r, g, b) if channels == 3 else (r, g, b, a))
    return PNG.encode_png(w, h, channels, bytes(buf))


# (kind, w, h, extra) per entry; the DECODED entry (largest area,
# lowest index on ties) is listed first in truth_kind/truth args
_CONFIGS: list[dict] = [
    {"entries": [("png3", 16, 16)], "pick": 0},
    {"entries": [("png4", 13, 9)], "pick": 0},
    {"entries": [("dib32", 16, 16)], "pick": 0},
    {"entries": [("dib32z", 8, 8)], "pick": 0},      # zero alpha -> mask
    {"entries": [("dib24", 10, 6)], "pick": 0},      # odd stride
    {"entries": [("dib8", 16, 16)], "pick": 0},
    # multi-entry: largest wins regardless of position
    {"entries": [("dib24", 8, 8), ("png4", 32, 32), ("dib32", 16, 16)],
     "pick": 1},
    # tie on area: lowest index wins
    {"entries": [("png3", 16, 16), ("dib32", 16, 16)], "pick": 0},
    # width/height byte 0 encodes 256
    {"entries": [("png3", 256, 256)], "pick": 0},
]


def _entry_blob(ico_id: int, kind: str, w: int, h: int) -> bytes:
    if kind == "png3":
        return _png_entry(ico_id, w, h, 3)
    if kind == "png4":
        return _png_entry(ico_id, w, h, 4)
    if kind == "dib32":
        return _dib_entry(ico_id, w, h, 32, "plane")
    if kind == "dib32z":
        return _dib_entry(ico_id, w, h, 32, "zero")
    if kind == "dib24":
        return _dib_entry(ico_id, w, h, 24, "opaque")
    return _dib_entry(ico_id, w, h, 8, "mask")


def _entry_truth(ico_id: int, kind: str, w: int, h: int) -> list:
    if kind == "png3":
        return _raw_rgba(ico_id, w, h, "opaque")
    if kind == "png4":
        return _raw_rgba(ico_id, w, h, "plane")
    if kind == "dib32":
        return _dib_truth_rgba(ico_id, w, h, 32, "plane")
    if kind == "dib32z":
        return _dib_truth_rgba(ico_id, w, h, 32, "zero")
    if kind == "dib24":
        return _dib_truth_rgba(ico_id, w, h, 24, "opaque")
    return _dib_truth_rgba(ico_id, w, h, 8, "mask")


def generate_icos() -> list:
    """One dict per icon: the assembled ``blob`` plus the chosen
    entry's pre-assembly truth pixels."""
    out = []
    for ico_id, cfg in enumerate(_CONFIGS):
        entries = [
            _entry_blob(ico_id, kind, w, h)
            for (kind, w, h) in cfg["entries"]
        ]
        n = len(entries)
        blob = bytearray(b"\x00\x00\x01\x00") + struct.pack("<H", n)
        off = 6 + 16 * n
        for (kind, w, h), data in zip(cfg["entries"], entries):
            blob += struct.pack(
                "<BBBBHHII",
                0 if w == 256 else w,
                0 if h == 256 else h,
                0, 0, 1, 32, len(data), off,
            )
            off += len(data)
        for data in entries:
            blob += data
        kind, w, h = cfg["entries"][cfg["pick"]]
        out.append(
            {
                "ico_id": ico_id,
                "width": w,
                "height": h,
                "n_entries": n,
                "blob": bytes(blob),
                "truth": _entry_truth(ico_id, kind, w, h),
            }
        )
    return out


def truth_row(ico: dict) -> dict:
    """Adjudicated features from the pre-assembly truth pixels —
    plain loops, no codec, no numpy."""
    w, h = ico["width"], ico["height"]
    buf = bytearray()
    sums = [0, 0, 0, 0]
    for row in ico["truth"]:
        for px in row:
            for k in range(4):
                buf.append(px[k])
                sums[k] += px[k]
    return {
        "ico_id": ico["ico_id"],
        "width": w,
        "height": h,
        "channels": 4,
        "n_entries": ico["n_entries"],
        "pix_sha": hashlib.sha256(bytes(buf)).hexdigest(),
        "sum_r": sums[0],
        "sum_g": sums[1],
        "sum_b": sums[2],
        "sum_a": sums[3],
    }
