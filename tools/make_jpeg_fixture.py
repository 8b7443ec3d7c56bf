"""Generate the committed baseline-JPEG test fixture WITHOUT PIL.

A minimal spec-conformant baseline sequential grayscale JPEG encoder
(ITU-T T.81): 8x8 block DCT, uniform quant table, single-length
canonical Huffman tables (every needed symbol coded in 9 bits — legal,
merely suboptimal). The output is a real JPEG byte-stream any decoder
(PIL, browsers, finmlkit_spark's native jpeg_gray_pixels) reads.

Deliberately a SEPARATE implementation from the decoder in
operators/multimodal.py: forward DCT vs inverse DCT, Huffman code
assignment vs code lookup — a shared bug cannot silently cancel out.

Usage: python tools/make_jpeg_fixture.py
Writes tests/fixtures/gradient_32x24.jpg and prints its md5 and the
md5 of the decoded pixel matrix (paste into the golden test).
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "fixtures", "gradient_32x24.jpg")

W, H = 32, 24
QUANT = 16  # uniform quant step


def pattern() -> np.ndarray:
    """Deterministic test image: diagonal gradient + a block checker."""
    y, x = np.mgrid[0:H, 0:W]
    img = (x * 5 + y * 3 + ((x // 8 + y // 8) % 2) * 64) % 256
    return img.astype(np.uint8)


def zigzag_order() -> np.ndarray:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
    )
    return np.array([r * 8 + c for r, c in order])


def dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    C = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8.0)
    C[0] /= np.sqrt(2.0)
    return C


def huff_uniform(symbols: list[int], nbits: int = 9) -> tuple[bytes, bytes, dict]:
    """Canonical table giving every symbol a code of length ``nbits``."""
    assert len(symbols) < (1 << nbits) - 1  # keep the all-ones code unused
    counts = bytearray(16)
    counts[nbits - 1] = len(symbols)
    codes = {s: (nbits, i) for i, s in enumerate(symbols)}
    return bytes(counts), bytes(symbols), codes


class BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc <<= 8 - self.n
            self.acc |= (1 << (8 - self.n)) - 1  # pad with 1s per spec
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _tables():
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    dc_counts, dc_symbols, dc_codes = huff_uniform(dc_syms)
    ac_counts, ac_symbols, ac_codes = huff_uniform(ac_syms)
    return dc_counts, dc_symbols, dc_codes, ac_counts, ac_symbols, ac_codes


def _encode_block(bw: BitWriter, blk: np.ndarray, pred: int, quant: int,
                  dc_codes: dict, ac_codes: dict,
                  C: np.ndarray, zz: np.ndarray) -> int:
    """Forward-DCT, quantize, and Huffman-code ONE level-shifted 8x8
    block; returns the updated DC predictor."""
    coef = C @ blk @ C.T
    qz = np.round(coef.reshape(64)[zz] / quant).astype(int)
    diff = int(qz[0]) - pred
    t = category(diff)
    ln, code = dc_codes[t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = int(qz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            ln, code = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        s = category(v)
        ln, code = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        ln, code = ac_codes[0x00]
        bw.write(code, ln)
    return int(qz[0])


def encode() -> bytes:
    img = pattern().astype(np.float64) - 128.0
    C = dct_matrix()
    zz = zigzag_order()
    dc_counts, dc_symbols, dc_codes, ac_counts, ac_symbols, ac_codes = _tables()

    bw = BitWriter()
    pred = 0
    for br in range(H // 8):
        for bc in range(W // 8):
            blk = img[br * 8 : br * 8 + 8, bc * 8 : bc * 8 + 8]
            pred = _encode_block(bw, blk, pred, QUANT, dc_codes, ac_codes, C, zz)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    qtbl = bytes([0x00]) + bytes([QUANT] * 64)
    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, qtbl)
    out += seg(0xC0, bytes([8]) + struct.pack(">HH", H, W) + bytes([1, 1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + dc_counts + dc_symbols)
    out += seg(0xC4, bytes([0x10]) + ac_counts + ac_symbols)
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"
    return out


OUT420 = os.path.join(os.path.dirname(OUT), "gradient_420_32x24.jpg")
CQUANT = 8  # tighter step for the color fixture (smooth gradients)


def pattern_rgb() -> np.ndarray:
    """Smooth full-color test image — linear per-channel gradients with
    NO mod-256 wrap edges, so the 2x2-mean chroma subsample vs the
    decoder's replication upsample stays within a small, pinnable
    bound."""
    y, x = np.mgrid[0:H, 0:W]
    r = x * 6 + y * 2          # 0..232
    g = 60 + x * 3 + y * 4     # 60..245
    b = 200 - x * 4 - y * 2    # 26..200
    return np.stack([r, g, b], axis=-1).astype(np.float64)


def encode_color_420() -> bytes:
    """Baseline 4:2:0 interleaved color JPEG (the shape real photo
    corpora are full of): JFIF YCbCr forward transform, 2x2-mean chroma
    subsample, MCU interleave of 4 luma + 1 Cb + 1 Cr data units, luma
    on quant/Huffman tables 0 and chroma on tables 1 — exercising the
    decoder's table-id routing, MCU walk, partial-MCU clipping (H=24 is
    half an MCU row), and chroma upsample."""
    rgb = pattern_rgb()
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    cb2 = cb.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))
    cr2 = cr.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))

    def pad(p: np.ndarray, tile: int) -> np.ndarray:
        ph = (-p.shape[0]) % tile
        pw = (-p.shape[1]) % tile
        return np.pad(p, ((0, ph), (0, pw)), mode="edge")

    yp, cbp, crp = pad(yy, 16), pad(cb2, 8), pad(cr2, 8)
    C = dct_matrix()
    zz = zigzag_order()
    dc_counts, dc_symbols, dc_codes, ac_counts, ac_symbols, ac_codes = _tables()

    bw = BitWriter()
    preds = [0, 0, 0]
    for my in range(yp.shape[0] // 16):
        for mx in range(yp.shape[1] // 16):
            for vv in range(2):
                for hh in range(2):
                    r0, c0 = (my * 2 + vv) * 8, (mx * 2 + hh) * 8
                    blk = yp[r0 : r0 + 8, c0 : c0 + 8] - 128.0
                    preds[0] = _encode_block(
                        bw, blk, preds[0], QUANT, dc_codes, ac_codes, C, zz
                    )
            for i, plane in ((1, cbp), (2, crp)):
                blk = plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] - 128.0
                preds[i] = _encode_block(
                    bw, blk, preds[i], CQUANT, dc_codes, ac_codes, C, zz
                )
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes([QUANT] * 64))
    out += seg(0xDB, bytes([0x01]) + bytes([CQUANT] * 64))
    out += seg(
        0xC0,
        bytes([8]) + struct.pack(">HH", H, W)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    # the same uniform canonical tables registered under BOTH table ids
    # (legal; the point is exercising the decoder's id routing)
    out += seg(0xC4, bytes([0x00]) + dc_counts + dc_symbols)
    out += seg(0xC4, bytes([0x10]) + ac_counts + ac_symbols)
    out += seg(0xC4, bytes([0x01]) + dc_counts + dc_symbols)
    out += seg(0xC4, bytes([0x11]) + ac_counts + ac_symbols)
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"
    return out


def main() -> None:
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    b = encode()
    with open(OUT, "wb") as f:
        f.write(b)
    print(f"wrote {OUT}: {len(b)} bytes, md5 {hashlib.md5(b).hexdigest()}")
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from finmlkit_spark.operators.multimodal import decode_payload, jpeg_gray_pixels

    print("dims:", decode_payload(b))
    px = jpeg_gray_pixels(b)
    print("decoded shape:", px.shape, "md5", hashlib.md5(px.tobytes()).hexdigest())
    ref = pattern()
    err = np.abs(px[:, :, 0].astype(int) - ref.astype(int))
    print("max |decoded - source|:", int(err.max()), "mean:", float(err.mean()))

    from finmlkit_spark.operators.multimodal import jpeg_pixels

    b420 = encode_color_420()
    with open(OUT420, "wb") as f:
        f.write(b420)
    print(f"wrote {OUT420}: {len(b420)} bytes, md5 {hashlib.md5(b420).hexdigest()}")
    print("dims:", decode_payload(b420))
    px3 = jpeg_pixels(b420)
    print("decoded shape:", px3.shape, "md5", hashlib.md5(px3.tobytes()).hexdigest())
    ref3 = pattern_rgb()
    err3 = np.abs(px3.astype(float) - ref3)
    print("max |decoded - source| per channel:",
          [int(err3[..., c].max()) for c in range(3)],
          "mean:", float(err3.mean()))


if __name__ == "__main__":
    main()


# --- progressive fixtures ----------------------------------------------------
# Progressive JPEG (T.81 Annex G) encoders, again DELIBERATELY separate
# from the decoder: EOB-run assembly vs EOB-run consumption, correction
# -bit buffering vs correction-bit application. The progressive streams
# encode the SAME quantized coefficients as the committed sequential
# fixtures (same pattern, same quant, same forward DCT), so the decoder
# tests can assert progressive decode == sequential decode BIT-FOR-BIT.

OUTPROG = os.path.join(os.path.dirname(OUT), "gradient_prog_32x24.jpg")
OUTPROG420 = os.path.join(os.path.dirname(OUT), "gradient_prog_420_32x24.jpg")
OUTDRI = os.path.join(os.path.dirname(OUT), "gradient_dri_32x24.jpg")
OUTPROGDCS = os.path.join(os.path.dirname(OUT), "gradient_prog_420_dcsplit_32x24.jpg")


def _prog_tables():
    """Uniform canonical tables like :func:`_tables`, plus the EOBn
    symbols (r<<4 | 0, r=1..14) progressive EOB runs need."""
    dc_syms = list(range(12))
    ac_syms = (
        [0x00, 0xF0]
        + [(r << 4) for r in range(1, 15)]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
    dc_counts, dc_symbols, dc_codes = huff_uniform(dc_syms)
    ac_counts, ac_symbols, ac_codes = huff_uniform(ac_syms)
    return dc_counts, dc_symbols, dc_codes, ac_counts, ac_symbols, ac_codes


def _quantize_plane(plane: np.ndarray, quant: int) -> np.ndarray:
    """Level-shifted plane -> (BH, BW, 64) int zigzag coefficient
    array, same forward DCT + rounding as the sequential encoders."""
    C = dct_matrix()
    zz = zigzag_order()
    BH, BW = plane.shape[0] // 8, plane.shape[1] // 8
    out = np.zeros((BH, BW, 64), dtype=np.int64)
    for by in range(BH):
        for bx in range(BW):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coef = C @ blk @ C.T
            out[by, bx] = np.round(coef.reshape(64)[zz] / quant).astype(np.int64)
    return out


class _ScanWriter:
    """BitWriter wrapper that can emit RSTn restart boundaries: pads the
    current byte (1-fill per spec) and splices the marker into the byte
    stream."""

    def __init__(self) -> None:
        self.bw = BitWriter()
        self.chunks: list[bytes] = []
        self.rst = 0

    def write(self, val: int, nbits: int) -> None:
        self.bw.write(val, nbits)

    def restart(self) -> None:
        self.chunks.append(self.bw.flush())
        self.chunks.append(bytes([0xFF, 0xD0 + self.rst]))
        self.rst = (self.rst + 1) % 8
        self.bw = BitWriter()

    def done(self) -> bytes:
        self.chunks.append(self.bw.flush())
        return b"".join(self.chunks)


def _emit_dc_first(sw, coefs_list, scomps, Al, dc_codes, ri, tdims=None) -> None:
    """DC first scan: diffs of (coef0 >> Al), interleaved over the MCU
    grid when several components, raster over the component's TRUE
    block grid (T.81 A.2.2 — NOT the MCU-padded storage shape) when
    one. ``tdims`` maps ci -> (true_bh, true_bw); without it the
    padded shape is used (only valid when they coincide)."""
    preds = {ci: 0 for ci, _c in scomps}
    if len(scomps) == 1:
        ci = scomps[0][0]
        if tdims is not None:
            BH, BW = tdims[ci]
        else:
            BH, BW, _ = coefs_list[ci].shape
        mcus = [[(ci, by, bx)] for by in range(BH) for bx in range(BW)]
    else:
        BHs = {ci: coefs_list[ci].shape for ci, _c in scomps}
        vmax = max(c[2] for _ci, c in scomps)
        hmax = max(c[1] for _ci, c in scomps)
        mcuy = coefs_list[scomps[0][0]].shape[0] // scomps[0][1][2]
        mcux = coefs_list[scomps[0][0]].shape[1] // scomps[0][1][1]
        mcus = []
        for my in range(mcuy):
            for mx in range(mcux):
                units = []
                for ci, (_cid, ch_, cv_, _tq) in scomps:
                    for vv in range(cv_):
                        for hh in range(ch_):
                            units.append((ci, my * cv_ + vv, mx * ch_ + hh))
                mcus.append(units)
    for j, units in enumerate(mcus):
        if ri and j and j % ri == 0:
            sw.restart()
            preds = {k: 0 for k in preds}
        for ci, by, bx in units:
            v = int(coefs_list[ci][by, bx, 0]) >> Al
            diff = v - preds[ci]
            preds[ci] = v
            t = category(diff)
            ln, code = dc_codes[t]
            sw.write(code, ln)
            if t:
                sw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)


def _emit_dc_refine(sw, coefs_list, scomps, Al, ri, tdims=None) -> None:
    """DC refinement scan: one raw bit per data unit — (coef0 >> Al) & 1.
    Single-component scans raster the TRUE block grid (see
    :func:`_emit_dc_first`)."""
    if len(scomps) == 1:
        ci = scomps[0][0]
        if tdims is not None:
            BH, BW = tdims[ci]
        else:
            BH, BW, _ = coefs_list[ci].shape
        mcus = [[(ci, by, bx)] for by in range(BH) for bx in range(BW)]
    else:
        mcuy = coefs_list[scomps[0][0]].shape[0] // scomps[0][1][2]
        mcux = coefs_list[scomps[0][0]].shape[1] // scomps[0][1][1]
        mcus = []
        for my in range(mcuy):
            for mx in range(mcux):
                units = []
                for ci, (_cid, ch_, cv_, _tq) in scomps:
                    for vv in range(cv_):
                        for hh in range(ch_):
                            units.append((ci, my * cv_ + vv, mx * ch_ + hh))
                mcus.append(units)
    for j, units in enumerate(mcus):
        if ri and j and j % ri == 0:
            sw.restart()
        for ci, by, bx in units:
            sw.write((int(coefs_list[ci][by, bx, 0]) >> Al) & 1, 1)


class _EobRun:
    """Cross-block EOB-run accumulator for progressive AC scans (first
    scans carry no correction bits; refinement scans append each
    skipped block's buffered correction bits)."""

    def __init__(self, sw, ac_codes):
        self.sw = sw
        self.ac = ac_codes
        self.run = 0
        self.bits: list[int] = []

    def add(self, corr_bits: list[int]) -> None:
        self.run += 1
        self.bits.extend(corr_bits)
        if self.run == 0x7FFF:
            self.flush()

    def flush(self) -> None:
        if self.run == 0:
            return
        r = self.run.bit_length() - 1
        ln, code = self.ac[(r << 4)]
        self.sw.write(code, ln)
        if r:
            self.sw.write(self.run - (1 << r), r)
        for bit in self.bits:
            self.sw.write(bit, 1)
        self.run = 0
        self.bits = []


def _emit_ac_first(sw, arr, Ss, Se, Al, ac_codes, ri, tbh, tbw) -> None:
    eob = _EobRun(sw, ac_codes)
    nmcu = 0
    for by in range(tbh):
        for bx in range(tbw):
            if ri:
                if nmcu and nmcu % ri == 0:
                    eob.flush()
                    sw.restart()
                nmcu += 1
            vals = []
            for k in range(Ss, Se + 1):
                c = int(arr[by, bx, k])
                a = abs(c) >> Al
                vals.append(a if c >= 0 else -a)
            if not any(vals):
                eob.add([])
                continue
            eob.flush()
            last = max(k for k, v in enumerate(vals) if v)
            run = 0
            for k in range(last + 1):
                v = vals[k]
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    ln, code = ac_codes[0xF0]
                    sw.write(code, ln)
                    run -= 16
                s = category(v)
                ln, code = ac_codes[(run << 4) | s]
                sw.write(code, ln)
                sw.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if last < Se - Ss:
                eob.add([])
    eob.flush()


def _emit_ac_refine(sw, arr, Ss, Se, Al, ac_codes, ri, tbh, tbw) -> None:
    """Refinement AC scan: newly significant coefficients (abs>>Al == 1)
    emit (run | 1) + sign; already-significant ones buffer their
    correction bit, released after the next emitted symbol or folded
    into the EOB run — the libjpeg encode_mcu_AC_refine structure."""
    eob = _EobRun(sw, ac_codes)
    nmcu = 0
    for by in range(tbh):
        for bx in range(tbw):
            if ri:
                if nmcu and nmcu % ri == 0:
                    eob.flush()
                    sw.restart()
                nmcu += 1
            block = [int(arr[by, bx, k]) for k in range(Ss, Se + 1)]
            absv = [abs(c) >> Al for c in block]
            news = [i for i, a in enumerate(absv) if a == 1]
            if not news:
                # nothing newly significant: the whole band folds into
                # the EOB run with its correction bits
                eob.add([a & 1 for a in absv if a > 1])
                continue
            last = news[-1]
            run = 0
            br: list[int] = []
            for i in range(last + 1):
                a = absv[i]
                if a == 0:
                    run += 1
                    continue
                # ZRLs emit at EVERY nonzero slot (correction or newly
                # significant) so buffered correction bits never span a
                # zero window the decoder has already traversed — the
                # libjpeg encode_mcu_AC_refine ordering
                while run > 15:
                    eob.flush()
                    ln, code = ac_codes[0xF0]
                    sw.write(code, ln)
                    run -= 16
                    for bit in br:
                        sw.write(bit, 1)
                    br = []
                if a > 1:
                    br.append(a & 1)
                    continue
                eob.flush()
                ln, code = ac_codes[(run << 4) | 1]
                sw.write(code, ln)
                sw.write(1 if block[i] > 0 else 0, 1)
                for bit in br:
                    sw.write(bit, 1)
                br = []
                run = 0
            if last < len(absv) - 1:
                # slots remain after the last newly-significant one —
                # the decoder keeps reading, so the block's remainder
                # folds into the EOB run with its correction bits
                tail = [
                    absv[i] & 1 for i in range(last + 1, len(absv)) if absv[i] > 1
                ]
                eob.add(tail)
    eob.flush()


def encode_progressive_gray_from_coefs(
    coefs: np.ndarray, h: int, w: int, ri: int = 0, quant: int = QUANT
) -> bytes:
    """Assemble a progressive grayscale stream from a (BH, BW, 64)
    zigzag coefficient array with a libjpeg-shaped scan script: DC
    first at Al=1, split AC bands at Al=1, one DC refinement pass, one
    AC refinement pass — optionally with a restart interval so RSTn
    realignment in every scan type is exercised."""
    tbh, tbw = coefs.shape[:2]
    dc_counts, dc_symbols, dc_codes, ac_counts, ac_symbols, ac_codes = _prog_tables()
    comps = [[1, 1, 1, 0]]
    scomps = [(0, comps[0])]

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def sos(ns_comps: list[tuple[int, int, int]], Ss: int, Se: int, Ah: int, Al: int) -> bytes:
        body = bytes([len(ns_comps)])
        for cid, td, ta in ns_comps:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([Ss, Se, (Ah << 4) | Al])
        return seg(0xDA, body)

    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    out += seg(0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + dc_counts + dc_symbols)
    out += seg(0xC4, bytes([0x10]) + ac_counts + ac_symbols)
    if ri:
        out += seg(0xDD, struct.pack(">H", ri))

    # scan 1: DC first, Al=1
    sw = _ScanWriter()
    _emit_dc_first(sw, [coefs], scomps, 1, dc_codes, ri)
    out += sos([(1, 0, 0)], 0, 0, 0, 1) + sw.done()
    # scan 2: AC 1..5 first, Al=1
    sw = _ScanWriter()
    _emit_ac_first(sw, coefs, 1, 5, 1, ac_codes, ri, tbh, tbw)
    out += sos([(1, 0, 0)], 1, 5, 0, 1) + sw.done()
    # scan 3: AC 6..63 first, Al=1
    sw = _ScanWriter()
    _emit_ac_first(sw, coefs, 6, 63, 1, ac_codes, ri, tbh, tbw)
    out += sos([(1, 0, 0)], 6, 63, 0, 1) + sw.done()
    # scan 4: DC refine, Ah=1 Al=0
    sw = _ScanWriter()
    _emit_dc_refine(sw, [coefs], scomps, 0, ri)
    out += sos([(1, 0, 0)], 0, 0, 1, 0) + sw.done()
    # scan 5: AC refine 1..63, Ah=1 Al=0
    sw = _ScanWriter()
    _emit_ac_refine(sw, coefs, 1, 63, 0, ac_codes, ri, tbh, tbw)
    out += sos([(1, 0, 0)], 1, 63, 1, 0) + sw.done()
    out += b"\xff\xd9"
    return out


def encode_progressive_gray(ri: int = 3) -> bytes:
    """Progressive grayscale stream over the SAME quantized coefficients
    as the sequential fixture (same pattern, QUANT, forward DCT). A
    decoder must reproduce the sequential fixture's pixels EXACTLY."""
    img = pattern().astype(np.float64)
    coefs = _quantize_plane(
        np.pad(img, ((0, (-H) % 8), (0, (-W) % 8)), mode="edge"), QUANT
    )
    return encode_progressive_gray_from_coefs(coefs, H, W, ri=ri, quant=QUANT)


def encode_progressive_color_420(dc_split: bool = False) -> bytes:
    """Progressive 4:2:0 color stream over the SAME coefficients as the
    sequential 4:2:0 fixture: interleaved 3-component DC first scan,
    per-component split AC first scans, DC + per-component AC
    refinement — the canonical libjpeg color scan script shape.

    ``dc_split=True`` emits PER-COMPONENT (non-interleaved) DC scans
    instead — the jpegtran custom-scan-script shape. Spec-critical at
    these dims: the 2x2-sampled luma's true block grid is 3x4 while its
    MCU-padded storage is 4x4 (H=24 is not a multiple of 16), so a
    decoder that rasters the padded grid over-reads 4 blocks and
    desyncs the Huffman stream (T.81 A.2.2: a non-interleaved scan
    codes only ceil(comp_dim/8) blocks per axis)."""
    rgb = pattern_rgb()
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    yy = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    cb2 = cb.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))
    cr2 = cr.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))

    def pad(p: np.ndarray, tile: int) -> np.ndarray:
        ph = (-p.shape[0]) % tile
        pw = (-p.shape[1]) % tile
        return np.pad(p, ((0, ph), (0, pw)), mode="edge")

    yp, cbp, crp = pad(yy, 16), pad(cb2, 8), pad(cr2, 8)
    cy = _quantize_plane(yp, QUANT)
    ccb = _quantize_plane(cbp, CQUANT)
    ccr = _quantize_plane(crp, CQUANT)
    coefs = [cy, ccb, ccr]
    comps = [[1, 2, 2, 0], [2, 1, 1, 1], [3, 1, 1, 1]]
    scomps = [(0, comps[0]), (1, comps[1]), (2, comps[2])]
    # true (non-MCU-padded) block grids per component
    tdims = [
        ((H + 7) // 8 if i else (H + 7) // 8, 0)  # placeholder, set below
        for i in range(3)
    ]
    tdims[0] = ((H + 7) // 8, (W + 7) // 8)
    tdims[1] = ((H // 2 + 7) // 8, (W // 2 + 7) // 8)
    tdims[2] = tdims[1]
    dc_counts, dc_symbols, dc_codes, ac_counts, ac_symbols, ac_codes = _prog_tables()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def sos(ns_comps: list[tuple[int, int, int]], Ss: int, Se: int, Ah: int, Al: int) -> bytes:
        body = bytes([len(ns_comps)])
        for cid, td, ta in ns_comps:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([Ss, Se, (Ah << 4) | Al])
        return seg(0xDA, body)

    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes([QUANT] * 64))
    out += seg(0xDB, bytes([0x01]) + bytes([CQUANT] * 64))
    out += seg(
        0xC2,
        bytes([8]) + struct.pack(">HH", H, W)
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += seg(0xC4, bytes([0x00]) + dc_counts + dc_symbols)
    out += seg(0xC4, bytes([0x10]) + ac_counts + ac_symbols)
    out += seg(0xC4, bytes([0x01]) + dc_counts + dc_symbols)
    out += seg(0xC4, bytes([0x11]) + ac_counts + ac_symbols)

    if dc_split:
        # scans 1a-1c: per-component DC first, Al=1 — each rasters the
        # component's TRUE block grid (luma: 3x4, not the padded 4x4)
        for cid, ci in ((1, 0), (2, 1), (3, 2)):
            sw = _ScanWriter()
            _emit_dc_first(sw, coefs, [(ci, comps[ci])], 1, dc_codes, 0, tdims)
            out += sos([(cid, 0, 0)], 0, 0, 0, 1) + sw.done()
    else:
        # scan 1: interleaved DC first, Al=1 (tables 0/0/…)
        sw = _ScanWriter()
        _emit_dc_first(sw, coefs, scomps, 1, dc_codes, 0)
        out += sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 0, 1) + sw.done()
    # scans 2-4: AC first per component (luma split band, chroma full)
    sw = _ScanWriter()
    _emit_ac_first(sw, cy, 1, 5, 1, ac_codes, 0, *tdims[0])
    out += sos([(1, 0, 0)], 1, 5, 0, 1) + sw.done()
    sw = _ScanWriter()
    _emit_ac_first(sw, ccb, 1, 63, 1, ac_codes, 0, *tdims[1])
    out += sos([(2, 0, 1)], 1, 63, 0, 1) + sw.done()
    sw = _ScanWriter()
    _emit_ac_first(sw, ccr, 1, 63, 1, ac_codes, 0, *tdims[2])
    out += sos([(3, 0, 1)], 1, 63, 0, 1) + sw.done()
    sw = _ScanWriter()
    _emit_ac_first(sw, cy, 6, 63, 1, ac_codes, 0, *tdims[0])
    out += sos([(1, 0, 0)], 6, 63, 0, 1) + sw.done()
    if dc_split:
        # scans 6a-6c: per-component DC refine over the true grids
        for cid, ci in ((1, 0), (2, 1), (3, 2)):
            sw = _ScanWriter()
            _emit_dc_refine(sw, coefs, [(ci, comps[ci])], 0, 0, tdims)
            out += sos([(cid, 0, 0)], 0, 0, 1, 0) + sw.done()
    else:
        # scan 6: DC refine (interleaved)
        sw = _ScanWriter()
        _emit_dc_refine(sw, coefs, scomps, 0, 0)
        out += sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 1, 0) + sw.done()
    # scans 7-9: AC refine per component
    for cid, arr, td in ((1, cy, tdims[0]), (2, ccb, tdims[1]), (3, ccr, tdims[2])):
        sw = _ScanWriter()
        _emit_ac_refine(sw, arr, 1, 63, 0, ac_codes, 0, *td)
        out += sos([(cid, 0, 0 if cid == 1 else 1)], 1, 63, 1, 0) + sw.done()
    out += b"\xff\xd9"
    return out


def encode_gray_dri(ri: int = 2) -> bytes:
    """Baseline sequential grayscale with a restart interval: the same
    coefficients as the plain fixture, re-aligned on RSTn every ``ri``
    MCUs with DC predictor resets — must decode to EXACTLY the plain
    fixture's pixels."""
    img = pattern().astype(np.float64) - 128.0
    C = dct_matrix()
    zz = zigzag_order()
    dc_counts, dc_symbols, dc_codes, ac_counts, ac_symbols, ac_codes = _tables()
    sw = _ScanWriter()
    pred = 0
    nmcu = 0
    for br_ in range(H // 8):
        for bc in range(W // 8):
            if nmcu and nmcu % ri == 0:
                sw.restart()
                pred = 0
            blk = img[br_ * 8 : br_ * 8 + 8, bc * 8 : bc * 8 + 8]
            pred = _encode_block(sw.bw, blk, pred, QUANT, dc_codes, ac_codes, C, zz)
            nmcu += 1
    scan = sw.done()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = b"\xff\xd8"
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes([QUANT] * 64))
    out += seg(0xC0, bytes([8]) + struct.pack(">HH", H, W) + bytes([1, 1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + dc_counts + dc_symbols)
    out += seg(0xC4, bytes([0x10]) + ac_counts + ac_symbols)
    out += seg(0xDD, struct.pack(">H", ri))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += scan
    out += b"\xff\xd9"
    return out


def main_progressive() -> None:
    """Write the progressive fixtures (progressive gray + color, baseline
    DRI) and print golden md5s; asserts each decodes EXACTLY like its
    sequential sibling (same quantized coefficients)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from finmlkit_spark.operators.multimodal import decode_payload, jpeg_pixels

    base_gray = jpeg_pixels(open(OUT, "rb").read())
    base_color = jpeg_pixels(open(OUT420, "rb").read())

    for path, enc, want in (
        (OUTPROG, encode_progressive_gray, base_gray),
        (OUTPROG420, encode_progressive_color_420, base_color),
        (OUTDRI, encode_gray_dri, base_gray),
        (OUTPROGDCS, lambda: encode_progressive_color_420(dc_split=True),
         base_color),
    ):
        b = enc()
        with open(path, "wb") as f:
            f.write(b)
        print(f"wrote {path}: {len(b)} bytes, md5 {hashlib.md5(b).hexdigest()}")
        print("  dims:", decode_payload(b))
        px = jpeg_pixels(b)
        print("  decoded md5:", hashlib.md5(px.tobytes()).hexdigest(),
              "matches sequential:", bool(np.array_equal(px, want)))
        assert np.array_equal(px, want), f"{path} decode != sequential sibling"


def main_seams() -> None:
    """Write the codec-SEAM fixtures: spec-shaped streams that
    hit each documented NotImplementedError gate in the native decoder
    (arithmetic-coded / 12-bit / CMYK JPEG, H.264-in-MP4). Each is the
    committed baseline with the single spec field that triggers the
    gate patched (marker / precision / component count), plus a minimal
    ISO-BMFF box tree for the MP4 — enough structure that the metadata
    parsers succeed while the PIXEL decode must raise the documented
    seam error (never a raw IndexError / garbage pixels)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from finmlkit_spark.operators.multimodal import decode_payload

    base = bytearray(open(OUT, "rb").read())
    sof = base.find(bytes([0xFF, 0xC0]))
    assert sof > 0

    arith = bytearray(base)
    arith[sof + 1] = 0xC9  # SOF9: extended sequential, arithmetic coding
    twelve = bytearray(base)
    twelve[sof + 4] = 12  # SOF precision byte: 8 -> 12
    cmyk = bytearray(base)
    cmyk[sof + 9] = 4  # SOF component count: 1 -> 4

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + typ + payload

    def tkhd(w: int, h: int) -> bytes:
        body = bytes(4) + bytes(16) + bytes(4) + bytes(8) + bytes(8) + bytes(36)
        return body + struct.pack(">II", w << 16, h << 16)

    mp4 = (
        box(b"ftyp", b"isom\x00\x00\x02\x00isomavc1")
        + box(b"moov", box(b"trak", box(b"tkhd", tkhd(64, 48))))
        + box(b"mdat", b"\x00\x00\x00\x01\x67" + bytes(32))  # H.264 SPS NAL shape
    )

    outdir = os.path.dirname(OUT)
    for name, payload in (
        ("seam_arith_32x24.jpg", bytes(arith)),
        ("seam_12bit_32x24.jpg", bytes(twelve)),
        ("seam_cmyk_32x24.jpg", bytes(cmyk)),
        ("seam_h264.mp4", mp4),
    ):
        path = os.path.join(outdir, name)
        with open(path, "wb") as f:
            f.write(payload)
        print(f"wrote {path}: {len(payload)} bytes, md5 {hashlib.md5(payload).hexdigest()}")
    # the MP4 metadata parse must SUCCEED (dims from tkhd) — only the
    # frame decode is the seam
    print("mp4 dims:", decode_payload(mp4))
