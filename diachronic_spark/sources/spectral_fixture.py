"""Deterministic spectral-analysis WAV fixture.

Six PCM clips engineered for unambiguous spectra: pure sinusoids at
exact FFT bins (so the dominant peak towers over leakage), a
two-tone mix, a DC-offset case (bin 0 is excluded by the declared
policy), an 8-bit unsigned clip, a stereo clip whose channel 1 is
deterministic pseudo-noise (channel 0 is the analyzed channel), and
a short clip that exercises the window-size policy (largest power
of two ≤ min(512, n_frames)).

Independence structure: the TRUTH spectrum is a pure-Python O(N²)
DFT loop (math.cos/math.sin term-by-term) over the raw sample ints
BEFORE WAV encoding — sharing no algorithm with the engine's numpy
rFFT. Features are integers or boundary-guarded roundings: the
make-tool asserts every rounded value sits ≥ 0.05 away from its
rounding boundary and every dominant peak leads the runner-up by
≥ 10%, so a last-ulp float divergence between DFT and FFT can never
flip a row (the quantize_embeddings rule).
"""

from __future__ import annotations

import math
import os

from ..functions.wav import encode_wav, window_size

_HERE = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
CLIPS_DIR = os.path.join(_HERE, "fixtures", "wav_spectral")
TRUTH_PATH = os.path.join(_HERE, "fixtures", "spectral_truth.parquet")

RATE = 8000


def _sine(n: int, bin_k: int, amp: float, n_fft: int, phase: float = 0.0):
    return [
        amp * math.sin(2 * math.pi * bin_k * j / n_fft + phase)
        for j in range(n)
    ]


def _noise(n: int, seed: int):
    # deterministic pseudo-noise via an LCG — no random module
    out, x = [], seed * 2654435761 % (2**32)
    for _ in range(n):
        x = (1103515245 * x + 12345) % (2**31)
        out.append((x % 2001) - 1000)
    return out


def _clip_defs() -> list:
    """Per clip: (width, channels, n_frames, channel sample lists)."""
    n = 600  # > 512 so the window policy clips to 512
    defs = []
    # 0: pure sine at bin 32 of 512 (500 Hz)
    defs.append({"width": 2, "ch": 1,
                 "x": [_sine(n, 32, 8000, 512)]})
    # 1: two tones, bins 20 (strong) + 100 (weak)
    two = [a + b for a, b in zip(_sine(n, 20, 9000, 512),
                                 _sine(n, 100, 4000, 512))]
    defs.append({"width": 2, "ch": 1, "x": [two]})
    # 2: sine at bin 5 over a DC pedestal (bin 0 excluded by policy)
    ped = [v + 6000 for v in _sine(n, 5, 5000, 512)]
    defs.append({"width": 2, "ch": 1, "x": [ped]})
    # 3: 8-bit unsigned, sine at bin 64 around the 128 midline
    u8 = [128 + v for v in _sine(n, 64, 90, 512)]
    defs.append({"width": 1, "ch": 1, "x": [u8]})
    # 4: stereo — channel 0 sine at bin 10, channel 1 pseudo-noise
    defs.append({"width": 2, "ch": 2,
                 "x": [_sine(n, 10, 7000, 512), _noise(n, 4)]})
    # 5: short clip (300 frames) → window 256, sine at bin 16 of 256
    defs.append({"width": 2, "ch": 1,
                 "x": [_sine(300, 16, 6000, 256)]})
    return defs


def _quantize(v: float, width: int) -> int:
    i = int(math.floor(v + 0.5))
    if width == 1:
        return max(0, min(255, i))
    return max(-32768, min(32767, i))


def clip_samples(clip: dict) -> list:
    """Integer sample lists per channel — the pre-encode truth."""
    return [
        [_quantize(v, clip["width"]) for v in chan]
        for chan in clip["x"]
    ]


def build_wav(clip: dict) -> bytes:
    chans = clip_samples(clip)
    n = len(chans[0])
    frames = bytearray()
    for j in range(n):
        for ch in chans:
            s = ch[j]
            if clip["width"] == 1:
                frames.append(s)
            else:
                frames += int(s).to_bytes(2, "little", signed=True)
    return encode_wav(RATE, len(chans), clip["width"], bytes(frames))




def dft_power(x: list) -> list:
    """O(N²) loop DFT power spectrum for bins 0..N/2 — the
    independent truth path (no numpy, no FFT algorithm)."""
    n = len(x)
    out = []
    for k in range(n // 2 + 1):
        re = im = 0.0
        for j, v in enumerate(x):
            a = 2 * math.pi * k * j / n
            re += v * math.cos(a)
            im -= v * math.sin(a)
        out.append(re * re + im * im)
    return out


def spectral_features(samples_c0: list, rate: int) -> dict:
    """The declared feature math over a power spectrum (shared
    DEFINITION, independent spectrum computation on each side):
    bins 1..N/2; dominant = argmax (lowest on tie);
    centroid_x10 = floor(10 * Σk·P/ΣP + 0.5)."""
    n_fft = window_size(len(samples_c0))
    p = dft_power(samples_c0[:n_fft])
    bins = p[1:]
    tot = sum(bins)
    if tot == 0.0:
        # declared: silence/pure-DC has no spectral features (NULLs)
        return {
            "n_fft": n_fft,
            "dominant_bin": None,
            "dominant_hz": None,
            "centroid_x10": None,
            "_centroid_raw": None,
            "_peak_margin": None,
        }
    dom = max(range(len(bins)), key=lambda i: (bins[i], -i)) + 1
    centroid = sum((i + 1) * v for i, v in enumerate(bins)) / tot
    return {
        "n_fft": n_fft,
        "dominant_bin": dom,
        "dominant_hz": int(math.floor(dom * rate / n_fft + 0.5)),
        "centroid_x10": int(math.floor(10 * centroid + 0.5)),
        "_centroid_raw": centroid,
        "_peak_margin": (
            sorted(bins)[-1] / sorted(bins)[-2] if len(bins) > 1 else 99.0
        ),
    }


def generate_clips() -> list:
    out = []
    for clip_id, clip in enumerate(_clip_defs()):
        chans = clip_samples(clip)
        feats = spectral_features(chans[0], RATE)
        out.append(
            {
                "clip_id": clip_id,
                "width": clip["width"],
                "ch": len(chans),
                "n_frames": len(chans[0]),
                "blob": build_wav(clip),
                "samples_c0": chans[0],
                "feats": feats,
            }
        )
    return out


def truth_row(c: dict) -> dict:
    f = c["feats"]
    return {
        "clip_id": c["clip_id"],
        "sample_rate": RATE,
        "n_channels": c["ch"],
        "n_frames": c["n_frames"],
        "n_fft": f["n_fft"],
        "dominant_bin": f["dominant_bin"],
        "dominant_hz": f["dominant_hz"],
        "centroid_x10": f["centroid_x10"],
    }
