"""Deterministic baseline-JPEG fixture (FIXTURES.md §9).

12 JPEGs covering the baseline container's axes: grayscale and YCbCr
color at 4:4:4 / 4:2:2 / 4:2:0, dimensions off the 8- and 16-pixel
grids (pad + crop), restart intervals, 8- and 16-bit quantization
tables, near-lossless (all-ones table) and lossy tables, and
high-frequency patterns that exercise ZRL/EOB runs.

Independence structure (JPEG is lossy, so the usual encode→decode
pixel-identity cannot anchor truth; determinism of OUR pinned decode
spec can — see functions/jpeg.py's determinism contract):

- the ENCODER here is pure-Python loop math (forward DCT over the
  SHARED ``COS_BASIS`` table, quantize, zigzag, canonical Huffman it
  builds from its own symbol set, byte stuffing, restarts);
- the TRUTH decodes from the QUANTIZED COEFFICIENTS kept in memory —
  never from the bitstream, never via the engine decoder — with
  sequential loop IDCT in the same (u-major, v-minor) accumulation
  order the engine's cumsum uses, replication upsampling, and the
  JFIF transform evaluated left-to-right per pixel;
- the ENGINE decodes the BITSTREAM with numpy. Pixel-hash equality
  therefore verifies the whole entropy layer (any Huffman/bit error
  changes coefficients) AND the vectorized IDCT/color math against
  an independent scalar implementation.

Real-world files (libjpeg-encoded host test images) validate the
decoder against third-party entropy coding in tests.
"""

from __future__ import annotations

import hashlib
import math
import os
import struct

from ..functions.jpeg import COS_BASIS, ZIGZAG

_HERE = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
JPEGS_DIR = os.path.join(_HERE, "fixtures", "jpeg")
TRUTH_PATH = os.path.join(_HERE, "fixtures", "jpeg_truth.parquet")


def _rgb_at(img_id: int, x: int, y: int, k: int) -> int:
    return (img_id * 13 + y * 31 + x * 7 + k * 101) % 256


def _gray_at(img_id: int, x: int, y: int) -> int:
    return (img_id * 13 + y * 31 + x * 7) % 256


# (w, h, color, (h1,v1) luma sampling, quant_variant, restart, pq16)
# quant_variant: 0 = all-ones (near-lossless), 1 = mild, 2 = steep
_CONFIGS = [
    (8, 8, False, (1, 1), 0, 0, False),
    (8, 8, False, (1, 1), 1, 0, False),
    (16, 16, False, (1, 1), 2, 0, False),
    (13, 9, False, (1, 1), 1, 0, False),
    (8, 8, True, (1, 1), 0, 0, False),
    (16, 16, True, (2, 2), 1, 0, False),
    (24, 16, True, (2, 1), 1, 0, False),
    (19, 13, True, (2, 2), 2, 0, False),
    (32, 32, True, (2, 2), 1, 2, False),
    (40, 25, True, (1, 1), 2, 0, False),
    (64, 48, False, (1, 1), 1, 3, False),
    (16, 16, True, (2, 2), 1, 0, True),
]


def _qtable(variant: int, chroma: bool) -> list:
    if variant == 0:
        return [[1] * 8 for _ in range(8)]
    base = 2 if variant == 1 else 6
    off = 3 if chroma else 0
    return [
        [1 + off + base * (u + v) // 2 for v in range(8)]
        for u in range(8)
    ]


def _fdct(block: list) -> list:
    """Forward orthonormal DCT, pure loops over the shared basis:
    F[u][v] = sum_x sum_y s[x][y] * B[u][x] * B[v][y]."""
    out = [[0.0] * 8 for _ in range(8)]
    for u in range(8):
        for v in range(8):
            acc = 0.0
            for x in range(8):
                for y in range(8):
                    acc += (
                        block[x][y] * COS_BASIS[u][x] * COS_BASIS[v][y]
                    )
            out[u][v] = acc
    return out


def _idct_loop(coef: list) -> list:
    """Sequential-loop inverse DCT in (u-major, v-minor) term order —
    the accumulation order the engine's cumsum replays bit-for-bit."""
    out = [[0.0] * 8 for _ in range(8)]
    for x in range(8):
        for y in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    acc += (
                        coef[u][v] * COS_BASIS[u][x] * COS_BASIS[v][y]
                    )
            out[x][y] = acc
    return out


def _pad_replicate(plane: list, w: int, h: int, tw: int, th: int) -> list:
    return [
        [plane[min(y, h - 1)][min(x, w - 1)] for x in range(tw)]
        for y in range(th)
    ]


def _blocks_of(plane: list, tw: int, th: int):
    for by in range(th // 8):
        for bx in range(tw // 8):
            yield (
                by,
                bx,
                [
                    [plane[by * 8 + r][bx * 8 + c] for c in range(8)]
                    for r in range(8)
                ],
            )


def _quantize(f: list, q: list) -> list:
    # deterministic half-up: floor(x/q + 0.5) (negatives floor toward
    # -inf — asymmetric but pinned; the truth decodes from these)
    return [
        [math.floor(f[u][v] / q[u][v] + 0.5) for v in range(8)]
        for u in range(8)
    ]


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v: int, k: int) -> None:
        for i in range(k - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def pad_align(self) -> None:
        while self.n:
            self.bits(1, 1)  # pad with 1s per spec


def _category(v: int) -> tuple:
    """(size t, t-bit pattern) per T.81 F.1.2.1/F.12."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    pattern = v if v >= 0 else v + (1 << t) - 1
    return t, pattern


def _canonical_huff(symbols: set) -> tuple:
    """All symbols at one length L (2**L > len+0 keeps the all-ones
    code unused): returns (counts16, ordered_symbols, sym->(L, code))."""
    syms = sorted(symbols)
    L = max(2, (len(syms) + 1).bit_length())  # 2**L >= len+1
    counts = [0] * 16
    counts[L - 1] = len(syms)
    table = {s: (L, i) for i, s in enumerate(syms)}
    return counts, syms, table


def generate_jpegs() -> list:
    """One dict per image: geometry, the assembled ``blob``, and the
    per-component quantized coefficient planes + metadata the truth
    decoder consumes."""
    return [
        build_img(img_id, w, h, color, (h1, v1), qv, rst, pq16)
        for img_id, (w, h, color, (h1, v1), qv, rst, pq16) in enumerate(
            _CONFIGS
        )
    ]


def build_img(img_id, w, h, color, hv, qv, rst, pq16) -> dict:
    """Build ONE image dict for an arbitrary configuration — the
    committed fixtures use _CONFIGS; the hypothesis fuzz drives this
    directly with generated configs (same pixel formulas seeded by
    img_id, same loop-math encoder)."""
    h1, v1 = hv
    hmax, vmax = (h1, v1) if color else (1, 1)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    tw = (w + mcu_w - 1) // mcu_w * mcu_w
    th = (h + mcu_h - 1) // mcu_h * mcu_h
    if color:
        # JFIF forward transform (encoder-side only)
        rgb = [
            [
                tuple(_rgb_at(img_id, x, y, k) for k in range(3))
                for x in range(w)
            ]
            for y in range(h)
        ]
        ycc = [[None] * w for _ in range(h)]
        for y in range(h):
            for x in range(w):
                r, g, b = rgb[y][x]
                yy = 0.299 * r + 0.587 * g + 0.114 * b
                cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
                cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
                ycc[y][x] = (yy, cb, cr)
        # luma at full res; chroma box-averaged by (h1, v1)
        cw, ch = (w + h1 - 1) // h1, (h + v1 - 1) // v1
        planes = [
            _pad_replicate(
                [[ycc[y][x][0] for x in range(w)] for y in range(h)],
                w, h, tw, th,
            )
        ]
        for k in (1, 2):
            sub = [
                [
                    (
                        lambda vals: sum(vals) / len(vals)
                    )(
                        [
                            ycc[min(cy * v1 + dy, h - 1)][
                                min(cx * h1 + dx, w - 1)
                            ][k]
                            for dy in range(v1)
                            for dx in range(h1)
                        ]
                    )
                    for cx in range(cw)
                ]
                for cy in range(ch)
            ]
            planes.append(
                _pad_replicate(sub, cw, ch, tw // h1, th // v1)
            )
        samp = [(h1, v1), (1, 1), (1, 1)]
    else:
        planes = [
            _pad_replicate(
                [
                    [float(_gray_at(img_id, x, y)) for x in range(w)]
                    for y in range(h)
                ],
                w, h, tw, th,
            )
        ]
        samp = [(1, 1)]
    qlum = _qtable(qv, False)
    qchr = _qtable(qv, True)
    if pq16:
        qlum = [[q + 256 if (u + v) >= 13 else q for v, q in
                 enumerate(row)] for u, row in enumerate(qlum)]
    qts = [qlum] + ([qchr, qchr] if color else [])
    comp_blocks = [
        list(_blocks_of(p, len(p[0]), len(p))) for p in planes
    ]
    quant = [
        [
            (by, bx, _quantize(_fdct(
                [[b[r][c] - 128.0 for c in range(8)]
                 for r in range(8)]
            ), qts[ci]))
            for by, bx, b in comp_blocks[ci]
        ]
        for ci in range(len(planes))
    ]
    blob = _assemble(
        img_id, w, h, color, samp, qlum, qchr, pq16, rst, quant,
        tw, th,
    )
    return {
        "img_id": img_id, "width": w, "height": h,
        "color": color, "samp": samp, "qlum": qlum,
        "qchr": qchr, "restart": rst, "blob": blob,
        "quant": quant, "tw": tw, "th": th,
    }


def _mcu_order(quant, samp, tw, th):
    """Yield (comp_idx, quantized block) in interleaved MCU order."""
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = tw // (8 * hmax), th // (8 * vmax)
    grids = []
    for ci, qb in enumerate(quant):
        g = {}
        for by, bx, q in qb:
            g[(by, bx)] = q
        grids.append(g)
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, (sh, sv) in enumerate(samp):
            for by in range(sv):
                for bx in range(sh):
                    yield ci, grids[ci][(my * sv + by, mx * sh + bx)]


def _assemble(
    img_id, w, h, color, samp, qlum, qchr, pq16, rst, quant, tw, th
):
    # ---- gather entropy symbols (two passes: stats, then emit) ----
    def symbol_stream():
        pred = [0] * len(samp)
        n_since = 0
        # a restart fires every ``rst`` MCUs = rst * blocks-per-MCU
        # blocks (the stream below yields per block)
        per_mcu = sum(samp_blocks_per_mcu)
        for ci, q in _mcu_seq():
            if rst and n_since == per_mcu * rst:
                pred = [0] * len(samp)  # restart resets predictors
                n_since = 0
                yield ("RST",)
            zz = [q[ZIGZAG[z] // 8][ZIGZAG[z] % 8] for z in range(64)]
            diff = zz[0] - pred[ci]
            pred[ci] = zz[0]
            t, pat = _category(diff)
            yield ("DC", ci, t, pat)
            k = 1
            while k < 64:
                run = 0
                while k < 64 and zz[k] == 0:
                    run += 1
                    k += 1
                if k == 64:
                    yield ("AC", ci, 0x00, 0, 0)  # EOB
                    break
                while run > 15:
                    yield ("AC", ci, 0xF0, 0, 0)  # ZRL
                    run -= 16
                s, pat = _category(zz[k])
                yield ("AC", ci, (run << 4) | s, s, pat)
                k += 1
            n_since += 1

    # blocks per MCU per component (for restart bookkeeping)
    samp_blocks_per_mcu = [sh * sv for sh, sv in samp]

    def _mcu_seq():
        return _mcu_order(quant, samp, tw, th)

    # pass 1: symbol sets per (class, chroma?) table
    dc_syms: list = [set(), set()]
    ac_syms: list = [set(), set()]
    for ev in symbol_stream():
        if ev[0] == "DC":
            dc_syms[min(ev[1], 1)].add(ev[2])
        elif ev[0] == "AC":
            ac_syms[min(ev[1], 1)].add(ev[2])
    n_tables = 2 if color else 1
    dc_tabs = [_canonical_huff(dc_syms[i] or {0}) for i in range(n_tables)]
    ac_tabs = [_canonical_huff(ac_syms[i] or {0}) for i in range(n_tables)]

    # ---- headers ----
    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    blob = bytearray(b"\xff\xd8")
    blob += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    blob += seg(0xFE, f"diachronic fixture {img_id}".encode())

    def dqt_body(tq, q, wide):
        zz = [q[ZIGZAG[z] // 8][ZIGZAG[z] % 8] for z in range(64)]
        if wide:
            return bytes([0x10 | tq]) + b"".join(
                struct.pack(">H", v) for v in zz
            )
        return bytes([tq]) + bytes(zz)

    blob += seg(0xDB, dqt_body(0, qlum, pq16))
    if color:
        blob += seg(0xDB, dqt_body(1, qchr, False))
    nc = 3 if color else 1
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    blob += seg(0xC0, sof)
    for i, (counts, syms, _t) in enumerate(dc_tabs):
        blob += seg(0xC4, bytes([0x00 | i]) + bytes(counts) + bytes(syms))
    for i, (counts, syms, _t) in enumerate(ac_tabs):
        blob += seg(0xC4, bytes([0x10 | i]) + bytes(counts) + bytes(syms))
    if rst:
        blob += seg(0xDD, struct.pack(">H", rst))
    sos = bytes([nc])
    for ci in range(nc):
        t = min(ci, 1)
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    blob += seg(0xDA, sos)

    # ---- entropy data (pass 2) ----
    bw = _BitWriter()
    n_rst = 0
    for ev in symbol_stream():
        if ev[0] == "RST":
            bw.pad_align()
            blob += bw.out
            bw = _BitWriter()
            blob += bytes([0xFF, 0xD0 + (n_rst & 7)])
            n_rst += 1
            continue
        if ev[0] == "DC":
            _, ci, t, pat = ev
            L, code = dc_tabs[min(ci, 1)][2][t]
            bw.bits(code, L)
            if t:
                bw.bits(pat, t)
        else:
            _, ci, rs, s, pat = ev
            L, code = ac_tabs[min(ci, 1)][2][rs]
            bw.bits(code, L)
            if s:
                bw.bits(pat, s)
    bw.pad_align()
    blob += bw.out
    blob += b"\xff\xd9"
    return bytes(blob)


# --- progressive (SOF2) assembly ---------------------------------------------
# Every baseline fixture gets a PROGRESSIVE TWIN: the SAME quantized
# coefficient planes shipped as a T.81 annex-G scan script (DC first
# at Al=1 → per-component AC bands 1-5 / 6-63 at Al=1 → DC refinement
# → per-component AC refinements at Al=0). One level of successive
# approximation reconstructs the coefficients EXACTLY (DC: arithmetic
# shift + low bit; AC: magnitude>>1 with sign + magnitude bit 0), so
# the progressive twin must decode bit-identically to the baseline
# file and to the shared loop-math truth — the entropy layers differ,
# the coefficients do not.


def _prog_geometry(samp, tw, th, w, h):
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = tw // (8 * hmax), th // (8 * vmax)
    grids, nb = [], []
    for sh, sv in samp:
        cw = (w * sh + hmax - 1) // hmax
        ch = (h * sv + vmax - 1) // vmax
        nb.append(((cw + 7) // 8, (ch + 7) // 8))  # (nbx, nby)
    return hmax, vmax, mcux, mcuy, nb


def _zz(q):
    return [q[ZIGZAG[z] // 8][ZIGZAG[z] % 8] for z in range(64)]


def _dc_first_events(quant, samp, tw, th, w, h, rst, al):
    """('SYM', table_id, category, pattern, length) / ('RST',) in the
    scan's block order (interleaved MCU order, or the component's own
    row-major grid when the frame has one component)."""
    hmax, vmax, mcux, mcuy, nb = _prog_geometry(samp, tw, th, w, h)
    grids = []
    for qb in quant:
        grids.append({(by, bx): q for by, bx, q in qb})
    pred = [0] * len(samp)
    if len(samp) > 1:
        def blocks():
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            yield ci, grids[ci][(my * sv + by, mx * sh + bx)]
        per_mcu = sum(sh * sv for sh, sv in samp)
    else:
        nbx, nby = nb[0]
        def blocks():
            for m in range(nbx * nby):
                by, bx = divmod(m, nbx)
                yield 0, grids[0][(by, bx)]
        per_mcu = 1
    n_blocks = 0
    for ci, q in blocks():
        if rst and n_blocks and n_blocks % (per_mcu * rst) == 0:
            yield ("RST",)
            pred = [0] * len(samp)
        dc = _zz(q)[0] >> al  # arithmetic shift: the DC point transform
        diff = dc - pred[ci]
        pred[ci] = dc
        t, pat = _category(diff)
        yield ("SYM", min(ci, 1), t, pat, t)
        n_blocks += 1


def _dc_refine_events(quant, samp, tw, th, w, h, rst, al):
    """('BIT', b) / ('RST',) — DC refinement is raw bits, no Huffman."""
    hmax, vmax, mcux, mcuy, nb = _prog_geometry(samp, tw, th, w, h)
    grids = [({(by, bx): q for by, bx, q in qb}) for qb in quant]
    if len(samp) > 1:
        def blocks():
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                for ci, (sh, sv) in enumerate(samp):
                    for by in range(sv):
                        for bx in range(sh):
                            yield grids[ci][(my * sv + by, mx * sh + bx)]
        per_mcu = sum(sh * sv for sh, sv in samp)
    else:
        nbx, nby = nb[0]
        def blocks():
            for m in range(nbx * nby):
                by, bx = divmod(m, nbx)
                yield grids[0][(by, bx)]
        per_mcu = 1
    n = 0
    for q in blocks():
        if rst and n and n % (per_mcu * rst) == 0:
            yield ("RST",)
        yield ("BIT", (_zz(q)[0] >> al) & 1)
        n += 1


def _eob_sym(run):
    """EOBn: symbol (r<<4) with run = (1<<r) + extra(r bits)."""
    r = run.bit_length() - 1
    return (r << 4), run - (1 << r), r


def _ac_first_events(quant, samp, ci, ss, se, al, tw, th, w, h, rst):
    """Non-interleaved AC first scan for component ``ci``: sent values
    are sign * (|coef| >> al); EOB runs batched across blocks."""
    hmax, vmax, mcux, mcuy, nb = _prog_geometry(samp, tw, th, w, h)
    grid = {(by, bx): q for by, bx, q in quant[ci]}
    nbx, nby = nb[ci]
    tid = min(ci, 1)
    pending = 0

    def flush():
        nonlocal pending
        if pending:
            sym, extra, elen = _eob_sym(pending)
            yield ("SYM", tid, sym, extra, elen)
            pending = 0

    for m in range(nbx * nby):
        if rst and m and m % rst == 0:
            yield from flush()
            yield ("RST",)
        by, bx = divmod(m, nbx)
        zz = _zz(grid[(by, bx)])
        syms = []
        r = 0
        for k in range(ss, se + 1):
            v = zz[k]
            sv = (abs(v) >> al) * (1 if v >= 0 else -1)
            if sv == 0:
                r += 1
                continue
            while r > 15:
                syms.append((0xF0, 0, 0))  # ZRL
                r -= 16
            s, pat = _category(sv)
            syms.append(((r << 4) | s, pat, s))
            r = 0
        if not syms:
            pending += 1
            if pending == 0x7FFF:
                yield from flush()
            continue
        yield from flush()
        for sym, pat, s in syms:
            yield ("SYM", tid, sym, pat, s)
        if r:  # trailing zeros: this block starts a new EOB run
            pending = 1
    yield from flush()


def _ac_refine_events(quant, samp, ci, ss, se, al, tw, th, w, h, rst):
    """Non-interleaved AC refinement scan: newly-significant coefs
    (|coef| == 1 after the Al=1 first pass) arrive as run/1 symbols
    with a sign bit; already-significant coefs contribute magnitude
    bit ``al`` positionally interleaved exactly where the decoder's
    skip loop reads them; EOB runs carry the run's correction bits."""
    hmax, vmax, mcux, mcuy, nb = _prog_geometry(samp, tw, th, w, h)
    grid = {(by, bx): q for by, bx, q in quant[ci]}
    nbx, nby = nb[ci]
    tid = min(ci, 1)
    pending = 0
    pend_bits: list = []

    def flush():
        nonlocal pending, pend_bits
        if pending:
            sym, extra, elen = _eob_sym(pending)
            yield ("SYM", tid, sym, extra, elen)
            for b in pend_bits:
                yield ("BIT", b)
            pending = 0
            pend_bits = []

    for m in range(nbx * nby):
        if rst and m and m % rst == 0:
            yield from flush()
            yield ("RST",)
        by, bx = divmod(m, nbx)
        zz = _zz(grid[(by, bx)])
        newks = [k for k in range(ss, se + 1) if abs(zz[k]) == 1]
        if not newks:
            pending += 1
            pend_bits.extend(
                abs(zz[k]) & 1
                for k in range(ss, se + 1)
                if abs(zz[k]) >= 2
            )
            if pending == 0x7FFF:
                yield from flush()
            continue
        yield from flush()
        pos = ss
        for nk in newks:
            zcount = sum(1 for i in range(pos, nk) if abs(zz[i]) <= 1)
            while zcount > 15:
                yield ("SYM", tid, 0xF0, 0, 0)  # ZRL: 16 zero-history
                consumed = 0
                while consumed < 16:
                    if abs(zz[pos]) >= 2:
                        yield ("BIT", abs(zz[pos]) & 1)
                    else:
                        consumed += 1
                    pos += 1
                zcount -= 16
            yield ("SYM", tid, (zcount << 4) | 1, 0, 0)
            yield ("BIT", 1 if zz[nk] > 0 else 0)  # sign
            for i in range(pos, nk):
                if abs(zz[i]) >= 2:
                    yield ("BIT", abs(zz[i]) & 1)
            pos = nk + 1
        tail = [
            abs(zz[i]) & 1 for i in range(pos, se + 1) if abs(zz[i]) >= 2
        ]
        if pos <= se:  # band remainder → this block opens an EOB run
            pending = 1
            pend_bits.extend(tail)
    yield from flush()


def _assemble_progressive(img: dict) -> bytes:
    """SOF2 stream from the SAME quantized planes as ``_assemble``."""
    w, h = img["width"], img["height"]
    samp, quant = img["samp"], img["quant"]
    qlum, qchr = img["qlum"], img["qchr"]
    rst, tw, th = img["restart"], img["tw"], img["th"]
    color = img["color"]
    pq16 = any(v > 255 for row in qlum for v in row)
    nc = 3 if color else 1

    def scans():
        yield ("dc1", _dc_first_events(quant, samp, tw, th, w, h, rst, 1),
               list(range(nc)), 0, 0, 0, 1)
        for ci in range(nc):
            for (ss, se) in ((1, 5), (6, 63)):
                yield (
                    f"ac1_{ci}_{ss}",
                    _ac_first_events(
                        quant, samp, ci, ss, se, 1, tw, th, w, h, rst
                    ),
                    [ci], ss, se, 0, 1,
                )
        yield ("dcr", _dc_refine_events(quant, samp, tw, th, w, h, rst, 0),
               list(range(nc)), 0, 0, 1, 0)
        for ci in range(nc):
            for (ss, se) in ((1, 5), (6, 63)):
                yield (
                    f"acr_{ci}_{ss}",
                    _ac_refine_events(
                        quant, samp, ci, ss, se, 0, tw, th, w, h, rst
                    ),
                    [ci], ss, se, 1, 0,
                )

    # pass 1: symbol sets per (class, table id) across ALL scans
    dc_syms: list = [set(), set()]
    ac_syms: list = [set(), set()]
    scan_events = []
    for name, ev_gen, cis, ss, se, ah, al in scans():
        evs = list(ev_gen)
        scan_events.append((name, evs, cis, ss, se, ah, al))
        for ev in evs:
            if ev[0] == "SYM":
                (dc_syms if ss == 0 else ac_syms)[ev[1]].add(ev[2])
    n_tables = 2 if color else 1
    dc_tabs = [_canonical_huff(dc_syms[i] or {0}) for i in range(n_tables)]
    ac_tabs = [_canonical_huff(ac_syms[i] or {0}) for i in range(n_tables)]

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dqt_body(tq, q, wide):
        zz = [q[ZIGZAG[z] // 8][ZIGZAG[z] % 8] for z in range(64)]
        if wide:
            return bytes([0x10 | tq]) + b"".join(
                struct.pack(">H", v) for v in zz
            )
        return bytes([tq]) + bytes(zz)

    blob = bytearray(b"\xff\xd8")
    blob += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    blob += seg(0xFE, f"diachronic progressive fixture {img['img_id']}".encode())
    blob += seg(0xDB, dqt_body(0, qlum, pq16))
    if color:
        blob += seg(0xDB, dqt_body(1, qchr, False))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sh, sv = samp[ci]
        sof += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    blob += seg(0xC2, sof)
    for i, (counts, syms, _t) in enumerate(dc_tabs):
        blob += seg(0xC4, bytes([0x00 | i]) + bytes(counts) + bytes(syms))
    for i, (counts, syms, _t) in enumerate(ac_tabs):
        blob += seg(0xC4, bytes([0x10 | i]) + bytes(counts) + bytes(syms))
    if rst:
        blob += seg(0xDD, struct.pack(">H", rst))

    for name, evs, cis, ss, se, ah, al in scan_events:
        sos = bytes([len(cis)])
        for ci in cis:
            t = min(ci, 1)
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([ss, se, (ah << 4) | al])
        blob += seg(0xDA, sos)
        tabs = dc_tabs if ss == 0 and ah == 0 else ac_tabs
        bw = _BitWriter()
        n_rst = 0
        for ev in evs:
            if ev[0] == "RST":
                bw.pad_align()
                blob += bw.out
                bw = _BitWriter()
                blob += bytes([0xFF, 0xD0 + (n_rst & 7)])
                n_rst += 1
            elif ev[0] == "SYM":
                _, tid, sym, pat, plen = ev
                L, code = tabs[tid][2][sym]
                bw.bits(code, L)
                if plen:
                    bw.bits(pat, plen)
            else:  # BIT
                bw.bits(ev[1], 1)
        bw.pad_align()
        blob += bw.out
    blob += b"\xff\xd9"
    return bytes(blob)


PROG_DIR = os.path.join(_HERE, "fixtures", "jpeg_prog")


def truth_row(img: dict) -> dict:
    """Decode the quantized coefficients with pure loop math (shared
    COS_BASIS, same term order as the engine's cumsum) and compute
    the adjudicated features — no bitstream, no numpy, no codec."""
    w, h, tw, th = img["width"], img["height"], img["tw"], img["th"]
    samp = img["samp"]
    qts = [img["qlum"]] + (
        [img["qchr"], img["qchr"]] if img["color"] else []
    )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    planes = []
    for ci, qb in enumerate(img["quant"]):
        sh, sv = samp[ci]
        pw, ph = tw // hmax * sh, th // vmax * sv
        plane = [[0.0] * pw for _ in range(ph)]
        for by, bx, q in qb:
            deq = [
                [q[u][v] * qts[ci][u][v] for v in range(8)]
                for u in range(8)
            ]
            sp = _idct_loop(deq)
            for r in range(8):
                for c in range(8):
                    plane[by * 8 + r][bx * 8 + c] = sp[r][c] + 128.0
        # replication upsample to (tw, th), crop to (w, h)
        ry, rx = vmax // sv, hmax // sh
        planes.append(
            [
                [plane[y // ry][x // rx] for x in range(w)]
                for y in range(h)
            ]
        )
    px = bytearray()
    if not img["color"]:
        for y in range(h):
            for x in range(w):
                v = planes[0][y][x]
                v = 0.0 if v < 0 else (255.0 if v > 255 else v)
                px.append(int(math.floor(v + 0.5)))
        channels = 1
    else:
        for y in range(h):
            for x in range(w):
                yy = planes[0][y][x]
                cb = planes[1][y][x]
                cr = planes[2][y][x]
                r = yy + 1.402 * (cr - 128.0)
                g = yy - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
                b = yy + 1.772 * (cb - 128.0)
                for v in (r, g, b):
                    v = 0.0 if v < 0 else (255.0 if v > 255 else v)
                    px.append(int(math.floor(v + 0.5)))
        channels = 3
    dec = bytes(px)
    sums = [0, 0, 0]
    for p in range(w * h):
        for j in range(channels):
            sums[j % 3] += dec[p * channels + j]
    return {
        "img_id": img["img_id"],
        "width": w,
        "height": h,
        "channels": channels,
        "color": img["color"],
        "restart": img["restart"],
        "pix_sha": hashlib.sha256(dec).hexdigest(),
        "sum_r": sums[0],
        "sum_g": sums[1] if channels == 3 else None,
        "sum_b": sums[2] if channels == 3 else None,
    }
