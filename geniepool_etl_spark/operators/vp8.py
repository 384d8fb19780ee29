"""Lossy WebP (VP8 key-frame) pixel decode — stdlib + numpy only.

The decoder follows RFC 6386's structure faithfully: the boolean
arithmetic (range) decoder (§7), tree-coded symbols (§8), the
key-frame header layout (§9/§19), per-macroblock intra modes coded
with the key-frame trees (§11), DCT-token residual decoding with
coefficient-band / neighbor-context probability addressing and the
no-EOB-after-DCT_0 rule (§13), zigzag placement, dequantization with
the Y2 ×2 and 155/100 spec multipliers (§14.1), the exact integer
inverse WHT for the Y2 DC plane and the 20091/35468 fixed-point
inverse DCT (§14.3-14.4), and whole-MB intra prediction with the
127/129 edge conventions (§12). Reconstruction is 4:2:0; output
converts to RGB channel sums with the repo's standard integer BT.601
convention (the JPEG lanes' 1402/344/714/1772 fixed point), cropped
to the visible width × height.

Two honest deltas from a full libvpx-interoperable decoder, both
documented here rather than papered over:

- The CONSTANT probability tables (default DCT-token probabilities
  and their update probabilities) and the quantizer lookup ramps are
  repo-defined deterministic values, not RFC 6386's empirical
  constants (this container has no copy of them). Every structural
  mechanism is per spec, and encoder and decoder share one table
  module, so streams round-trip bit-exactly; swapping the constant
  tables for the RFC's is the only change libvpx interop would need.
- The kf_bmode_prob table (like the other constant tables) and two
  frame-border above-right conventions for B_PRED (documented at
  :func:`_above_right4`) are repo-defined. SEGMENTATION (§9.3/§10)
  and the LOOP-FILTER DELTA header (§9.4 — ref[INTRA] +
  mode[B_PRED] applied per MB on key frames, the inter entries
  parsed but unreachable) are implemented as of r13: per-segment
  quantizer and loop-filter overrides in absolute or delta mode,
  tree-coded per-MB segment map, per-MB filter levels. No header
  field of a key frame raises anymore.

r13: per-subblock intra (B_PRED — all ten §12.3 sub-modes, the
§11.2 bmode tree with above/left context addressing, plane-3 tokens
without Y2, sequential sub-block reconstruction with above-right
pixels) and the NORMAL loop filter (filter_type 0, §15.2-3: the
six-bound filter mask, hev, the 27/18/9-tap MB-edge filter and the
outer-tap subblock filter, all three planes) are implemented; the
SIMPLE filter (filter_type 1, luma-only §15.1) was already. Both run
in the spec's macroblock raster order after full reconstruction.

The synth encoder emits flat-per-macroblock frames (16x16 DC_PRED
through the full Y2/WHT path, or B_PRED/B_DC per-subblock DC
residuals), so the decoded pixels are a pure closed form of
(asset_id, mb_x, mb_y) and an external SQL oracle can recompute
every channel sum without touching the bytes — the same
value-neutral-construction discipline as the progressive-JPEG and
VP8L lanes.

Reference parity note: the reference repo has no multimodal surface;
this module extends the engine's LLM-pipeline coverage (SURVEY §2.6
extensions), not reference parity.
"""

from __future__ import annotations

import struct


# ---------------------------------------------------------------- tables

# DCT token alphabet (RFC 6386 §13.2)
_EOB = 0
_T0, _T1, _T2, _T3, _T4 = 1, 2, 3, 4, 5
_CAT1, _CAT2, _CAT3, _CAT4, _CAT5, _CAT6 = 6, 7, 8, 9, 10, 11

# token tree, RFC 6386 coef_tree shape: leaves negative, internal
# nodes are index pairs
_COEF_TREE = (
    -_EOB, 2,
    -_T0, 4,
    -_T1, 6,
    8, 12,
    -_T2, 10,
    -_T3, -_T4,
    14, 16,
    -_CAT1, -_CAT2,
    18, 20,
    -_CAT3, -_CAT4,
    -_CAT5, -_CAT6,
)

# category base values and per-bit probabilities (RFC 6386 §13.2)
_CAT_BASE = {_CAT1: 5, _CAT2: 7, _CAT3: 11, _CAT4: 19, _CAT5: 35,
             _CAT6: 67}
_CAT_PROBS = {
    _CAT1: (159,),
    _CAT2: (165, 145),
    _CAT3: (173, 148, 140),
    _CAT4: (176, 155, 140, 135),
    _CAT5: (180, 157, 141, 134, 130),
    _CAT6: (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
}

# coefficient position → probability band (RFC 6386 §13.3)
_COEF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

# zigzag scan order (RFC 6386 §14.4)
_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

# key-frame intra mode trees (RFC 6386 §11.2). Mode ids:
_B_PRED, _DC_PRED, _V_PRED, _H_PRED, _TM_PRED = 0, 1, 2, 3, 4
_KF_YMODE_TREE = (-_B_PRED, 2, 4, 6, -_DC_PRED, -_V_PRED,
                  -_H_PRED, -_TM_PRED)
_KF_YMODE_PROB = (145, 156, 163, 128)
_UV_MODE_TREE = (-_DC_PRED, 2, -_V_PRED, 4, -_H_PRED, -_TM_PRED)
_KF_UV_MODE_PROB = (142, 114, 183)

# sub-block (4x4) intra modes + tree (RFC 6386 §11.2 bmode_tree)
(_B_DC, _B_TM, _B_VE, _B_HE, _B_LD, _B_RD, _B_VR, _B_VL, _B_HD,
 _B_HU) = range(10)
_BMODE_TREE = (
    -_B_DC, 2,
    -_B_TM, 4,
    -_B_VE, 6,
    8, 12,
    -_B_HE, 10,
    -_B_RD, -_B_VR,
    -_B_LD, 14,
    -_B_VL, 16,
    -_B_HD, -_B_HU,
)
# a non-B_PRED neighbor contributes its 16x16 mode's implied
# sub-block mode to the bmode probability context (§11.2)
_IMPLIED_SUBMODE = {
    _DC_PRED: _B_DC, _V_PRED: _B_VE, _H_PRED: _B_HE, _TM_PRED: _B_TM,
}

# per-MB segment map tree (RFC 6386 §10): two literal bits shaped as
# a tree so the three seg_probs address first/second splits; leaf 0
# is the literal 0 (the tree walker treats node <= 0 as leaf -node)
_MB_SEGMENT_TREE = (2, 4, 0, -1, -2, -3)

_BMODE_PROB_CACHE: dict = {}


def _kf_bmode_probs(above: int, left: int) -> tuple:
    """Key-frame sub-block mode probabilities addressed by the
    (above, left) neighbor sub-block modes — the structural mechanism
    of RFC 6386 §11.2's kf_bmode_prob[10][10][9]. The VALUES are
    repo-defined deterministic stand-ins, same convention (and same
    reason) as :func:`_default_coef_probs`: encoder and decoder share
    this function, so streams round-trip bit-exactly."""
    key = (above, left)
    probs = _BMODE_PROB_CACHE.get(key)
    if probs is None:
        probs = tuple(
            ((61 * above + 43 * left + 29 * i) % 253) + 1
            for i in range(9)
        )
        _BMODE_PROB_CACHE[key] = probs
    return probs

# plane types for token probability addressing (RFC 6386 §13.3):
# 0 = Y beginning at coefficient 1 (16x16 mode, DC lives in Y2),
# 1 = Y2, 2 = chroma, 3 = Y with its own DC (B_PRED — unreached here)
_PLANE_Y_NO_DC, _PLANE_Y2, _PLANE_UV, _PLANE_Y_DC = 0, 1, 2, 3


def _default_coef_probs():
    """Repo-defined deterministic default token probabilities,
    shape [4 plane][8 band][3 ctx][11 node probs] — every entry in
    1..255 (see the module docstring for why these are not RFC
    6386's empirical table). Shared by encoder and decoder."""
    return [
        [
            [
                [((37 * t + 29 * b + 17 * c + 11 * p) % 254) + 1
                 for p in range(11)]
                for c in range(3)
            ]
            for b in range(8)
        ]
        for t in range(4)
    ]


_COEF_PROBS = _default_coef_probs()
# probability that each token probability is updated in the header
# (we never update; one bool per entry is still read/written per spec)
_COEF_UPDATE_PROB = 252

# quantizer lookup ramps (repo-defined; spec-shaped derivation below)
_DC_QLOOKUP = tuple(4 + q for q in range(128))
_AC_QLOOKUP = tuple(4 + 2 * q for q in range(128))


def _dequant_factors(q_index: int) -> dict:
    """Per-plane dequantization factors from the base quantizer index
    (all delta fields zero), with the spec's derivation shape
    (RFC 6386 §14.1): Y2 DC doubled, Y2 AC scaled 155/100 with a
    floor of 8, chroma DC clamped at 132."""
    q = max(0, min(127, q_index))
    return {
        "y1dc": _DC_QLOOKUP[q],
        "y1ac": _AC_QLOOKUP[q],
        "y2dc": _DC_QLOOKUP[q] * 2,
        "y2ac": max(8, _AC_QLOOKUP[q] * 155 // 100),
        "uvdc": min(_DC_QLOOKUP[q], 132),
        "uvac": _AC_QLOOKUP[q],
    }


# ------------------------------------------------------- boolean coder


class _BoolDec:
    """RFC 6386 §7 boolean (range) decoder: 16-bit value window, 8-bit
    range, one fresh byte ORed in after every 8 renormalization
    shifts. Reads past the partition end return 0 bits (the spec's
    convention); ``overread`` counts them so callers can reject
    truncated streams that DECODED only by courtesy zeros."""

    def __init__(self, buf: bytes, start: int, end: int):
        self.buf, self.pos, self.end = buf, start, end
        self.overread = 0
        self.value = (self._byte() << 8) | self._byte()
        self.range = 255
        self.bit_count = 0

    def _byte(self) -> int:
        if self.pos < self.end:
            b = self.buf[self.pos]
            self.pos += 1
            return b
        self.overread += 1
        return 0

    def get(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value = (self.value << 1) & 0xFFFFFF
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                self.value |= self._byte()
        return ret

    def literal(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            v = (v << 1) | self.get(128)
        return v

    def signed_literal(self, bits: int) -> int:
        v = self.literal(bits)
        return -v if self.get(128) else v

    def tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            node = tree[i + self.get(probs[i >> 1])]
            if node <= 0:
                return -node
            i = node


class _BoolEnc:
    """Arithmetic encoder matching :class:`_BoolDec` exactly, built on
    the interval-nesting argument instead of byte-carry juggling: the
    low bound is an exact big integer at the decoder's value-window
    alignment (``+= split << 8`` on a 1, doubled per renormalization
    shift), and ANY code in the final ``[low, low + range·2⁸)``
    interval replays every branch — the standard arithmetic-coding
    invariant, property-tested against the decoder. Streams here are
    a few kilobits per image, so big-int cost is irrelevant."""

    def __init__(self):
        self.low = 0
        self.range = 255
        self.shifts = 0

    def put(self, bit: int, prob: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split << 8
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            self.range <<= 1
            self.low <<= 1
            self.shifts += 1

    def literal(self, v: int, bits: int) -> None:
        for i in range(bits - 1, -1, -1):
            self.put((v >> i) & 1, 128)

    def signed_literal(self, v: int, bits: int) -> None:
        self.literal(abs(v), bits)
        self.put(1 if v < 0 else 0, 128)

    def tree(self, tree, probs, token: int, start: int = 0) -> None:
        # walk the tree to find the path to ``-token``, then emit it
        path = []

        def walk(i, acc):
            for b in (0, 1):
                node = tree[i + b]
                if node <= 0:
                    if -node == token:
                        path.extend(acc + [(i >> 1, b)])
                        return True
                elif walk(node, acc + [(i >> 1, b)]):
                    return True
            return False

        if not walk(start, []):
            raise ValueError(f"token {token} unreachable from {start}")
        for pi, b in path:
            self.put(b, probs[pi])

    def bytes(self) -> bytes:
        total_bits = 16 + self.shifts
        pad = (-total_bits) % 8
        # any code in [low, low + range<<8) decodes identically; take
        # the low bound and zero-pad to a byte boundary
        code = self.low << pad
        n = (total_bits + pad) // 8
        return code.to_bytes(n, "big")


# ----------------------------------------------------- transforms

def _iwht4x4(block):
    """Exact integer inverse Walsh-Hadamard (RFC 6386 §14.3) — the Y2
    DC plane transform. ``block`` is a length-16 list in natural
    order; returns the 16 per-subblock DC values."""
    ip = list(block)
    op = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[12 + i]
        b1 = ip[4 + i] + ip[8 + i]
        c1 = ip[4 + i] - ip[8 + i]
        d1 = ip[i] - ip[12 + i]
        op[i] = a1 + b1
        op[4 + i] = c1 + d1
        op[8 + i] = a1 - b1
        op[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = op[4 * i : 4 * i + 4]
        a1 = r[0] + r[3]
        b1 = r[1] + r[2]
        c1 = r[1] - r[2]
        d1 = r[0] - r[3]
        out[4 * i] = (a1 + b1 + 3) >> 3
        out[4 * i + 1] = (c1 + d1 + 3) >> 3
        out[4 * i + 2] = (a1 - b1 + 3) >> 3
        out[4 * i + 3] = (d1 - c1 + 3) >> 3
    return out


_COS = 20091   # cospi8sqrt2 - 1 in Q16 (RFC 6386 §14.4)
_SIN = 35468   # sinpi8sqrt2 in Q16


def _idct4x4(block):
    """Exact integer inverse DCT (RFC 6386 §14.4, the 20091/35468
    fixed-point form). Length-16 natural-order input → 16 residuals."""
    ip = list(block)
    tmp = [0] * 16
    for i in range(4):
        a1 = ip[i] + ip[8 + i]
        b1 = ip[i] - ip[8 + i]
        t1 = (ip[4 + i] * _SIN) >> 16
        t2 = ip[12 + i] + ((ip[12 + i] * _COS) >> 16)
        c1 = t1 - t2
        t1 = ip[4 + i] + ((ip[4 + i] * _COS) >> 16)
        t2 = (ip[12 + i] * _SIN) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        r = tmp[4 * i : 4 * i + 4]
        a1 = r[0] + r[2]
        b1 = r[0] - r[2]
        t1 = (r[1] * _SIN) >> 16
        t2 = r[3] + ((r[3] * _COS) >> 16)
        c1 = t1 - t2
        t1 = r[1] + ((r[1] * _COS) >> 16)
        t2 = (r[3] * _SIN) >> 16
        d1 = t1 + t2
        out[4 * i] = (a1 + d1 + 4) >> 3
        out[4 * i + 3] = (a1 - d1 + 4) >> 3
        out[4 * i + 1] = (b1 + c1 + 4) >> 3
        out[4 * i + 2] = (b1 - c1 + 4) >> 3
    return out


# --------------------------------------------- residual token codec

def _decode_block(bd, plane: int, first_coeff: int, ctx: int,
                  probs_table=None):
    """Decode one 4x4 block's DCT token run (RFC 6386 §13): returns
    (natural-order coefficient list, eob). ``ctx`` is the 0..2
    above+left nonzero context; per-coefficient probabilities are
    addressed [plane][band[c]][running ctx], EOB is unreachable
    directly after a DCT_0 token (tree start node 2)."""
    table = probs_table if probs_table is not None else _COEF_PROBS
    coeffs = [0] * 16
    c = first_coeff
    run_ctx = ctx
    allow_eob = True
    while c < 16:
        probs = table[plane][_COEF_BANDS[c]][run_ctx]
        tok = bd.tree(_COEF_TREE, probs, start=0 if allow_eob else 2)
        if tok == _EOB:
            break
        if tok == _T0:
            run_ctx = 0
            allow_eob = False
            c += 1
            continue
        if tok <= _T4:
            v = tok - 1  # _T1..4 carry their value
        else:
            extra = 0
            for p in _CAT_PROBS[tok]:
                extra = (extra << 1) | bd.get(p)
            v = _CAT_BASE[tok] + extra
        if bd.get(128):  # sign
            v = -v
        coeffs[_ZIGZAG[c]] = v
        run_ctx = 1 if abs(v) == 1 else 2
        allow_eob = True
        c += 1
    return coeffs, c


def _encode_block(be, plane: int, first_coeff: int, ctx: int, levels):
    """Encode one block's quantized levels (natural order) — the
    exact inverse walk of :func:`_decode_block`. Trailing zeros are
    never coded (EOB as soon as no nonzero remains)."""
    zz = [levels[_ZIGZAG[c]] for c in range(16)]
    eob = 16
    while eob > first_coeff and zz[eob - 1] == 0:
        eob -= 1
    c = first_coeff
    run_ctx = ctx
    allow_eob = True
    while c < eob:
        v = zz[c]
        probs = _COEF_PROBS[plane][_COEF_BANDS[c]][run_ctx]
        start = 0 if allow_eob else 2
        a = abs(v)
        if a == 0:
            be.tree(_COEF_TREE, probs, _T0, start=start)
            run_ctx = 0
            allow_eob = False
            c += 1
            continue
        if a <= 4:
            tok = a + _T0
            be.tree(_COEF_TREE, probs, tok, start=start)
        else:
            for tok in (_CAT1, _CAT2, _CAT3, _CAT4, _CAT5, _CAT6):
                hi = _CAT_BASE[tok] + (1 << len(_CAT_PROBS[tok])) - 1
                if a <= hi:
                    break
            else:
                raise ValueError(f"level {a} beyond cat6")
            be.tree(_COEF_TREE, probs, tok, start=start)
            extra = a - _CAT_BASE[tok]
            for i, p in enumerate(_CAT_PROBS[tok]):
                be.put((extra >> (len(_CAT_PROBS[tok]) - 1 - i)) & 1, p)
        be.put(1 if v < 0 else 0, 128)  # sign
        run_ctx = 1 if a == 1 else 2
        allow_eob = True
        c += 1
    if eob < 16:
        probs = _COEF_PROBS[plane][_COEF_BANDS[c]][run_ctx]
        be.tree(_COEF_TREE, probs, _EOB, start=0)
    return eob


# ------------------------------------------------------ frame decode

def _predict_16x16(mode, rec, x0, y0, size):
    """Whole-block intra prediction (RFC 6386 §12.2): ``rec`` is the
    padded plane being reconstructed, ``(x0, y0)`` the block origin,
    ``size`` 16 (luma) or 8 (chroma). Edge conventions per spec:
    missing above row reads 127, missing left column 129. Returns a
    size×size int array."""
    import numpy as np

    have_above = y0 > 0
    have_left = x0 > 0
    above = (
        rec[y0 - 1, x0 : x0 + size].astype(np.int64)
        if have_above
        else np.full(size, 127, dtype=np.int64)
    )
    left = (
        rec[y0 : y0 + size, x0 - 1].astype(np.int64)
        if have_left
        else np.full(size, 129, dtype=np.int64)
    )
    if mode == _DC_PRED:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + size) >> (
                5 if size == 16 else 4
            )
        elif have_above:
            dc = (int(above.sum()) + size // 2) >> (4 if size == 16 else 3)
        elif have_left:
            dc = (int(left.sum()) + size // 2) >> (4 if size == 16 else 3)
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int64)
    if mode == _V_PRED:
        return np.tile(above, (size, 1))
    if mode == _H_PRED:
        return np.tile(left[:, None], (1, size))
    if mode == _TM_PRED:
        if have_above and have_left:
            al = int(rec[y0 - 1, x0 - 1])
        elif have_above:
            al = 127
        else:
            al = 129
        p = left[:, None] + above[None, :] - al
        return np.clip(p, 0, 255)
    raise NotImplementedError(f"vp8: prediction mode {mode}")


def _above_right4(rec, mx, my, bx, by):
    """The four above-right prediction pixels for sub-block
    ``(by, bx)`` of MB ``(mx, my)`` (RFC 6386 §12.3). For interior
    sub-blocks (``bx < 3``, any row but the MB top with ``by > 0``
    included) they are the already-reconstructed pixels directly
    above-right. Right-column sub-blocks (``bx == 3``) read the row
    ABOVE THE MACROBLOCK at columns 16..19 — the true neighbors are
    not yet decoded, so every ``bx == 3`` sub-block shares the same
    above-right pixels as (0, 3), the standard VP8 behavior. Border
    conventions (cross-decoder-visible only on frame edges, chosen
    and documented per the module's honest-deltas rule): a missing
    above row reads 127; columns past the padded frame's right edge
    replicate the row's last pixel."""
    import numpy as np

    if bx < 3:
        row, c0 = my * 16 + by * 4 - 1, mx * 16 + bx * 4 + 4
    else:
        row, c0 = my * 16 - 1, mx * 16 + 16
    if row < 0:
        return np.full(4, 127, dtype=np.int64)
    width = rec.shape[1]
    if c0 + 4 <= width:
        return rec[row, c0 : c0 + 4].astype(np.int64)
    out = np.full(4, int(rec[row, width - 1]), dtype=np.int64)
    k = max(0, width - c0)
    if k:
        out[:k] = rec[row, c0:width].astype(np.int64)
    return out


def _predict_4x4(mode, rec, x0, y0, above_right):
    """Sub-block intra prediction (RFC 6386 §12.3), all ten B_PRED
    modes: ``rec`` is the luma plane under reconstruction, ``(x0,
    y0)`` the 4x4 origin, ``above_right`` the 4 pixels from
    :func:`_above_right4`. Edge conventions as for whole blocks:
    missing above row 127, missing left column 129, and the
    above-left corner follows :func:`_predict_16x16`'s convention.
    The two/three-tap rounded averages are the spec's exact integer
    forms. Returns a 4x4 int64 array."""
    import numpy as np

    have_above = y0 > 0
    have_left = x0 > 0
    A = (
        rec[y0 - 1, x0 : x0 + 4].astype(np.int64)
        if have_above
        else np.full(4, 127, dtype=np.int64)
    )
    L = (
        rec[y0 : y0 + 4, x0 - 1].astype(np.int64)
        if have_left
        else np.full(4, 129, dtype=np.int64)
    )
    if have_above and have_left:
        P = int(rec[y0 - 1, x0 - 1])
    elif have_above:
        P = 127
    else:
        P = 129
    if mode == _B_DC:
        dc = (int(A.sum()) + int(L.sum()) + 4) >> 3
        return np.full((4, 4), dc, dtype=np.int64)
    if mode == _B_TM:
        return np.clip(L[:, None] + A[None, :] - P, 0, 255)

    def a3(x, y, z):
        return (int(x) + 2 * int(y) + int(z) + 2) >> 2

    def a2(x, y):
        return (int(x) + int(y) + 1) >> 1

    o = np.zeros((4, 4), dtype=np.int64)
    if mode == _B_VE:
        e = (P, A[0], A[1], A[2], A[3], above_right[0])
        row = [a3(e[i], e[i + 1], e[i + 2]) for i in range(4)]
        o[:] = np.array(row, dtype=np.int64)[None, :]
        return o
    if mode == _B_HE:
        e = (P, L[0], L[1], L[2], L[3], L[3])
        col = [a3(e[i], e[i + 1], e[i + 2]) for i in range(4)]
        o[:] = np.array(col, dtype=np.int64)[:, None]
        return o
    AA = [int(v) for v in A] + [int(v) for v in above_right]
    pp = (int(L[3]), int(L[2]), int(L[1]), int(L[0]), P,
          int(A[0]), int(A[1]), int(A[2]), int(A[3]))
    if mode == _B_LD:
        for r in range(4):
            for c in range(4):
                i = r + c
                o[r, c] = (
                    a3(AA[i], AA[i + 1], AA[i + 2])
                    if i < 6
                    else a3(AA[6], AA[7], AA[7])
                )
        return o
    if mode == _B_RD:
        for r in range(4):
            for c in range(4):
                k = c - r + 3
                o[r, c] = a3(pp[k - 1], pp[k], pp[k + 1])
        return o
    if mode == _B_VR:
        o[3, 0] = a3(pp[1], pp[2], pp[3])
        o[2, 0] = a3(pp[2], pp[3], pp[4])
        o[3, 1] = o[1, 0] = a3(pp[3], pp[4], pp[5])
        o[2, 1] = o[0, 0] = a2(pp[4], pp[5])
        o[3, 2] = o[1, 1] = a3(pp[4], pp[5], pp[6])
        o[2, 2] = o[0, 1] = a2(pp[5], pp[6])
        o[3, 3] = o[1, 2] = a3(pp[5], pp[6], pp[7])
        o[2, 3] = o[0, 2] = a2(pp[6], pp[7])
        o[1, 3] = a3(pp[6], pp[7], pp[8])
        o[0, 3] = a2(pp[7], pp[8])
        return o
    if mode == _B_VL:
        o[0, 0] = a2(AA[0], AA[1])
        o[1, 0] = a3(AA[0], AA[1], AA[2])
        o[2, 0] = o[0, 1] = a2(AA[1], AA[2])
        o[1, 1] = o[3, 0] = a3(AA[1], AA[2], AA[3])
        o[2, 1] = o[0, 2] = a2(AA[2], AA[3])
        o[3, 1] = o[1, 2] = a3(AA[2], AA[3], AA[4])
        o[2, 2] = o[0, 3] = a2(AA[3], AA[4])
        o[3, 2] = o[1, 3] = a3(AA[3], AA[4], AA[5])
        o[2, 3] = a3(AA[4], AA[5], AA[6])
        o[3, 3] = a3(AA[5], AA[6], AA[7])
        return o
    if mode == _B_HD:
        o[3, 0] = a2(pp[0], pp[1])
        o[3, 1] = a3(pp[0], pp[1], pp[2])
        o[2, 0] = o[3, 2] = a2(pp[1], pp[2])
        o[2, 1] = o[3, 3] = a3(pp[1], pp[2], pp[3])
        o[2, 2] = o[1, 0] = a2(pp[2], pp[3])
        o[2, 3] = o[1, 1] = a3(pp[2], pp[3], pp[4])
        o[1, 2] = o[0, 0] = a2(pp[3], pp[4])
        o[1, 3] = o[0, 1] = a3(pp[3], pp[4], pp[5])
        o[0, 2] = a3(pp[4], pp[5], pp[6])
        o[0, 3] = a3(pp[5], pp[6], pp[7])
        return o
    if mode == _B_HU:
        o[0, 0] = a2(L[0], L[1])
        o[0, 1] = a3(L[0], L[1], L[2])
        o[0, 2] = o[1, 0] = a2(L[1], L[2])
        o[0, 3] = o[1, 1] = a3(L[1], L[2], L[3])
        o[1, 2] = o[2, 0] = a2(L[2], L[3])
        o[1, 3] = o[2, 1] = a3(L[2], L[3], L[3])
        o[2, 2] = o[2, 3] = int(L[3])
        o[3, :] = int(L[3])
        return o
    raise NotImplementedError(f"vp8: sub-block mode {mode}")


def decode_frame(chunk: bytes):
    """Decode one VP8 KEY frame (the bytes of a ``VP8 `` RIFF chunk)
    to ``(width, height, Y, U, V)`` numpy uint8 planes, cropped to
    the visible size. Structure per RFC 6386 — as of r13 the full
    key-frame header decodes (segmentation, both loop filters with
    ref/mode deltas, B_PRED sub-block intra); see the module
    docstring for the repo-defined constant tables and border
    conventions."""
    import numpy as np

    if len(chunk) < 10:
        raise ValueError("vp8: frame too short")
    tag = chunk[0] | (chunk[1] << 8) | (chunk[2] << 16)
    if tag & 1:
        raise ValueError("vp8: not a key frame")
    part1_len = tag >> 5
    if chunk[3:6] != b"\x9d\x01\x2a":
        raise ValueError("vp8: bad keyframe start code")
    (wraw,) = struct.unpack_from("<H", chunk, 6)
    (hraw,) = struct.unpack_from("<H", chunk, 8)
    w, h = wraw & 0x3FFF, hraw & 0x3FFF
    if w == 0 or h == 0:
        raise ValueError("vp8: zero dimensions")
    if 10 + part1_len > len(chunk):
        raise ValueError("vp8: first partition overruns frame")
    bd = _BoolDec(chunk, 10, 10 + part1_len)
    bd.literal(1)  # color space
    bd.literal(1)  # clamping type
    # --- segmentation header (RFC 6386 §9.3): up to four segments
    # with per-segment quantizer / loop-filter overrides (absolute or
    # delta) and a tree-coded per-MB segment map
    seg_enabled = bd.get(128)
    seg_update_map = 0
    seg_abs = 0
    seg_q_alt = [0, 0, 0, 0]
    seg_lf_alt = [0, 0, 0, 0]
    seg_probs = [255, 255, 255]
    if seg_enabled:
        seg_update_map = bd.get(128)
        seg_update_data = bd.get(128)
        if seg_update_data:
            seg_abs = bd.get(128)
            for i in range(4):
                if bd.get(128):
                    seg_q_alt[i] = bd.signed_literal(7)
            for i in range(4):
                if bd.get(128):
                    seg_lf_alt[i] = bd.signed_literal(6)
        if seg_update_map:
            for i in range(3):
                if bd.get(128):
                    seg_probs[i] = bd.literal(8)
    filter_type = bd.literal(1)  # 0 = normal, 1 = simple
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    # loop-filter adjustments (§9.4): per-reference-frame and
    # per-mode signed level deltas. On a KEY frame the operative
    # entries are ref_delta[0] (INTRA — every MB) and mode_delta[0]
    # (B_PRED MBs); the inter-frame entries are parsed per spec but
    # unreachable here.
    lf_adj = bd.get(128)
    ref_lf_delta = [0, 0, 0, 0]
    mode_lf_delta = [0, 0, 0, 0]
    if lf_adj and bd.get(128):  # delta update flag
        for i in range(4):
            if bd.get(128):
                ref_lf_delta[i] = bd.signed_literal(6)
        for i in range(4):
            if bd.get(128):
                mode_lf_delta[i] = bd.signed_literal(6)
    nparts = 1 << bd.literal(2)
    q_index = bd.literal(7)
    deltas = []
    for _ in range(5):  # y1dc, y2dc, y2ac, uvdc, uvac deltas
        deltas.append(bd.signed_literal(4) if bd.get(128) else 0)

    def _seg_base_q(sid: int) -> int:
        if not seg_enabled:
            return q_index
        alt = seg_q_alt[sid]
        return max(0, min(127, alt if seg_abs else q_index + alt))

    # per-segment dequant sets (the global per-plane index deltas
    # apply on top of each segment's base quantizer — §14.1)
    dqs = []
    for s in range(4):
        qb = _seg_base_q(s)
        dqs.append({
            "y1dc": _dequant_factors(qb + deltas[0])["y1dc"],
            "y1ac": _dequant_factors(qb)["y1ac"],
            "y2dc": _dequant_factors(qb + deltas[1])["y2dc"],
            "y2ac": _dequant_factors(qb + deltas[2])["y2ac"],
            "uvdc": _dequant_factors(qb + deltas[3])["uvdc"],
            "uvac": _dequant_factors(qb + deltas[4])["uvac"],
        })

    def _seg_filter_level(sid: int) -> int:
        if not seg_enabled:
            return filter_level
        alt = seg_lf_alt[sid]
        return max(0, min(63, alt if seg_abs else filter_level + alt))
    bd.literal(1)  # refresh entropy probs (keyframe)
    probs = [
        [[list(_COEF_PROBS[t][b][c]) for c in range(3)]
         for b in range(8)]
        for t in range(4)
    ]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    if bd.get(_COEF_UPDATE_PROB):
                        probs[t][b][c][p] = bd.literal(8)
    mb_no_skip = bd.literal(1)
    prob_skip_false = bd.literal(8) if mb_no_skip else 0

    mb_cols, mb_rows = (w + 15) >> 4, (h + 15) >> 4
    mbs = []
    # bmode probability context: the above/left neighbor sub-block
    # modes (off-frame → B_DC_PRED; non-B_PRED neighbors contribute
    # their implied sub-mode) — RFC 6386 §11.2
    above_sub = [_B_DC] * (mb_cols * 4)
    for _my in range(mb_rows):
        left_sub = [_B_DC] * 4
        for _mx in range(mb_cols):
            # segment id precedes everything in the MB header (§10)
            sid = 0
            if seg_enabled and seg_update_map:
                sid = bd.tree(_MB_SEGMENT_TREE, seg_probs)
            skip = bd.get(prob_skip_false) if mb_no_skip else 0
            ymode = bd.tree(_KF_YMODE_TREE, _KF_YMODE_PROB)
            if ymode == _B_PRED:
                subs = []
                for b in range(16):
                    bx, by = b % 4, b // 4
                    am = above_sub[_mx * 4 + bx] if by == 0 else subs[b - 4]
                    lm = left_sub[by] if bx == 0 else subs[b - 1]
                    subs.append(
                        bd.tree(_BMODE_TREE, _kf_bmode_probs(am, lm))
                    )
                above_sub[_mx * 4 : _mx * 4 + 4] = subs[12:16]
                for by in range(4):
                    left_sub[by] = subs[by * 4 + 3]
            else:
                subs = None
                imp = _IMPLIED_SUBMODE[ymode]
                above_sub[_mx * 4 : _mx * 4 + 4] = [imp] * 4
                left_sub[:] = [imp] * 4
            uvmode = bd.tree(_UV_MODE_TREE, _KF_UV_MODE_PROB)
            mbs.append((skip, ymode, uvmode, subs, sid))
    if bd.overread:
        raise ValueError("vp8: first partition truncated")

    # token partitions: (nparts-1) 3-byte LE sizes, then the data;
    # MB row r reads from partition r % nparts (RFC 6386 §9.5)
    at = 10 + part1_len
    sizes = []
    for _ in range(nparts - 1):
        if at + 3 > len(chunk):
            raise ValueError("vp8: partition size table truncated")
        sizes.append(
            chunk[at] | (chunk[at + 1] << 8) | (chunk[at + 2] << 16)
        )
        at += 3
    starts, parts = at, []
    for i in range(nparts):
        size = (
            sizes[i] if i < nparts - 1 else len(chunk) - starts
        )
        if starts + size > len(chunk) or size < 0:
            raise ValueError("vp8: token partition overruns frame")
        parts.append(_BoolDec(chunk, starts, starts + size))
        starts += size

    Y = np.zeros((mb_rows * 16, mb_cols * 16), dtype=np.uint8)
    U = np.zeros((mb_rows * 8, mb_cols * 8), dtype=np.uint8)
    Vp = np.zeros((mb_rows * 8, mb_cols * 8), dtype=np.uint8)

    above_y = [0] * (mb_cols * 4)
    above_u = [0] * (mb_cols * 2)
    above_v = [0] * (mb_cols * 2)
    above_y2 = [0] * mb_cols

    def dequant(coeffs, dcf, acf):
        return [coeffs[0] * dcf] + [c * acf for c in coeffs[1:]]

    mb_coeffs = [False] * (mb_rows * mb_cols)
    for my in range(mb_rows):
        td = parts[my % nparts]
        left_y, left_u, left_v, left_y2 = [0] * 4, [0] * 2, [0] * 2, [0]
        for mx in range(mb_cols):
            skip, ymode, uvmode, subs, sid = mbs[my * mb_cols + mx]
            d = dqs[sid]
            dq_y1dc, dq_y1ac = d["y1dc"], d["y1ac"]
            dq_y2dc, dq_y2ac = d["y2dc"], d["y2ac"]
            dq_uvdc, dq_uvac = d["uvdc"], d["uvac"]
            pu = _predict_16x16(uvmode, U, mx * 8, my * 8, 8)
            pv = _predict_16x16(uvmode, Vp, mx * 8, my * 8, 8)
            if skip:
                # no residual tokens; zero this MB's nonzero contexts
                # — except Y2 for B_PRED, which HAS no Y2 block and
                # leaves that context untouched (the libvpx rule)
                above_y[mx * 4 : mx * 4 + 4] = [0] * 4
                above_u[mx * 2 : mx * 2 + 2] = [0] * 2
                above_v[mx * 2 : mx * 2 + 2] = [0] * 2
                left_y[:] = [0] * 4
                left_u[:] = [0] * 2
                left_v[:] = [0] * 2
                if ymode != _B_PRED:
                    above_y2[mx] = 0
                    left_y2[0] = 0
                if ymode == _B_PRED:
                    # pure per-subblock prediction, spec raster order
                    for b in range(16):
                        bx, by = b % 4, b // 4
                        x0, yb = mx * 16 + bx * 4, my * 16 + by * 4
                        ar = _above_right4(Y, mx, my, bx, by)
                        pred = _predict_4x4(subs[b], Y, x0, yb, ar)
                        Y[yb : yb + 4, x0 : x0 + 4] = np.clip(
                            pred, 0, 255
                        )
                else:
                    py = _predict_16x16(ymode, Y, mx * 16, my * 16, 16)
                    Y[
                        my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16
                    ] = np.clip(py, 0, 255)
                U[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
                    pu, 0, 255
                )
                Vp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
                    pv, 0, 255
                )
                continue
            has_c = 0
            if ymode == _B_PRED:
                # no Y2 block: each Y block carries its own DC
                # (plane type 3, first coefficient 0 — §13.3)
                yblocks = []
                for b in range(16):
                    bx, by = b % 4, b // 4
                    ctx = above_y[mx * 4 + bx] + left_y[by]
                    yc, eob = _decode_block(
                        td, _PLANE_Y_DC, 0, ctx, probs
                    )
                    nz = 1 if eob > 0 else 0
                    above_y[mx * 4 + bx] = left_y[by] = nz
                    has_c |= nz
                    yblocks.append(yc)
            else:
                # Y2 block
                ctx = above_y2[mx] + left_y2[0]
                y2c, eob = _decode_block(td, _PLANE_Y2, 0, ctx, probs)
                nz2 = 1 if eob > 0 else 0
                above_y2[mx] = left_y2[0] = nz2
                has_c |= nz2
                wht = _iwht4x4(dequant(y2c, dq_y2dc, dq_y2ac))
                yres = np.zeros((16, 16), dtype=np.int64)
                for b in range(16):
                    bx, by = b % 4, b // 4
                    ctx = above_y[mx * 4 + bx] + left_y[by]
                    yc, eob = _decode_block(
                        td, _PLANE_Y_NO_DC, 1, ctx, probs
                    )
                    nz = 1 if eob > 1 else 0
                    above_y[mx * 4 + bx] = left_y[by] = nz
                    has_c |= nz
                    dqc = dequant(yc, dq_y1dc, dq_y1ac)
                    dqc[0] = wht[b]
                    res = _idct4x4(dqc)
                    yres[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = (
                        np.array(res).reshape(4, 4)
                    )
            ures = np.zeros((8, 8), dtype=np.int64)
            vres = np.zeros((8, 8), dtype=np.int64)
            for plane_arr, above_c, left_c in (
                (ures, above_u, left_u),
                (vres, above_v, left_v),
            ):
                for b in range(4):
                    bx, by = b % 2, b // 2
                    ctx = above_c[mx * 2 + bx] + left_c[by]
                    cc, eob = _decode_block(
                        td, _PLANE_UV, 0, ctx, probs
                    )
                    nz = 1 if eob > 0 else 0
                    above_c[mx * 2 + bx] = left_c[by] = nz
                    has_c |= nz
                    res = _idct4x4(dequant(cc, dq_uvdc, dq_uvac))
                    plane_arr[
                        by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4
                    ] = np.array(res).reshape(4, 4)
            mb_coeffs[my * mb_cols + mx] = bool(has_c)
            if ymode == _B_PRED:
                # per-subblock predict→reconstruct, raster order —
                # each sub-block's prediction reads pixels the
                # previous sub-blocks just wrote (§12.3)
                for b in range(16):
                    bx, by = b % 4, b // 4
                    x0, yb = mx * 16 + bx * 4, my * 16 + by * 4
                    ar = _above_right4(Y, mx, my, bx, by)
                    pred = _predict_4x4(subs[b], Y, x0, yb, ar)
                    res = _idct4x4(
                        dequant(yblocks[b], dq_y1dc, dq_y1ac)
                    )
                    Y[yb : yb + 4, x0 : x0 + 4] = np.clip(
                        pred + np.array(res).reshape(4, 4), 0, 255
                    )
            else:
                py = _predict_16x16(ymode, Y, mx * 16, my * 16, 16)
                Y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = (
                    np.clip(py + yres, 0, 255)
                )
            U[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
                pu + ures, 0, 255
            )
            Vp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
                pv + vres, 0, 255
            )
        if td.overread:
            raise ValueError("vp8: token partition truncated")
    def _mb_level(m) -> int:
        lvl = _seg_filter_level(m[4])
        if lf_adj:
            lvl += ref_lf_delta[0]  # INTRA (key frame)
            if m[1] == _B_PRED:
                lvl += mode_lf_delta[0]
            lvl = max(0, min(63, lvl))
        return lvl

    mb_levels = [_mb_level(m) for m in mbs]
    if any(mb_levels):
        if filter_type == 1:
            # SIMPLE deblocking (luma only), spec MB raster order
            _simple_loop_filter(
                Y, mb_rows, mb_cols, mb_levels, sharpness, mbs,
                mb_coeffs,
            )
        else:
            # NORMAL deblocking (all planes, §15.2-3)
            _normal_loop_filter(
                Y, U, Vp, mb_rows, mb_cols, mb_levels, sharpness,
                mbs, mb_coeffs,
            )
    return (
        w,
        h,
        Y[:h, :w],
        U[: (h + 1) >> 1, : (w + 1) >> 1],
        Vp[: (h + 1) >> 1, : (w + 1) >> 1],
    )


# ------------------------------------------------------ frame encode

_SYNTH_QI = 4  # dc_q=8 → y2dc=16, uvdc=8: the exact-residual choices
_SYNTH_SEG_PROBS = (128, 128, 128)  # written in the header, shared


_LEVEL_CACHE: dict = {}


def _search_dc_level(r: int, kind: str, factor: int) -> int:
    """Smallest-|L| quantized DC level whose reconstruction lands
    EXACTLY the flat residual ``r`` under dequant ``factor`` —
    generalizes the fixed-quantizer closed forms of
    :func:`_flat_mb_levels` to per-segment quantizers. ``kind``
    'y2' runs the Y2→IWHT→IDCT pipeline (((f·L+3)>>3)+4)>>3; 'dc'
    the direct DC-only IDCT (f·L+4)>>3 (chroma / B_PRED plane 3).
    Raises when ``r`` is unreachable (factor too coarse — e.g.
    chroma at uvdc > 8): the synth fails loud rather than emit a
    stream that decodes to off-by-one pixels."""
    key = (r, kind, factor)
    hit = _LEVEL_CACHE.get(key)
    if hit is not None:
        return hit
    if kind == "y2":
        f = lambda L: (((factor * L + 3) >> 3) + 4) >> 3  # noqa: E731
    else:
        f = lambda L: (factor * L + 4) >> 3  # noqa: E731
    for a in range(0, 2200):
        for L in ((0,) if a == 0 else (a, -a)):
            if f(L) == r:
                _LEVEL_CACHE[key] = L
                return L
    raise ValueError(
        f"vp8 synth: flat residual {r} unreachable at dequant "
        f"{factor} ({kind}) — exactness requires a finer quantizer"
    )


def _flat_mb_levels(r_y: int, r_u: int, r_v: int):
    """Quantized levels hitting EXACT flat residuals through the
    real reconstruction path at q_index=_SYNTH_QI: the Y2 DC level L
    decodes via dequant(×16) → IWHT flat (16L+3)>>3 = 2L → IDCT DC
    (2L+4)>>3 pixels, so L = 4r−2 lands exactly r (and 0 for r=0);
    chroma DC at dequant 8 gives (8L+4)>>3 = L directly."""
    ly2 = 0 if r_y == 0 else 4 * r_y - 2
    return ly2, r_u, r_v


def encode_flat_frame(w: int, h: int, mb_vals, ymode=_DC_PRED,
                      uvmode: int = _DC_PRED, filter_level: int = 0,
                      sharpness: int = 0,
                      filter_type: int = 1, submodes=None,
                      segments=None, lf_deltas=None) -> bytes:
    """Encode a VP8 KEY frame (the ``VP8 `` chunk bytes) whose every
    macroblock is a flat (Y, U, V) from ``mb_vals(mx, my) → (y, u,
    v)``: DC-style intra + DC-only residuals, loop filter per
    ``filter_type`` (1 = SIMPLE, 0 = NORMAL) at ``filter_level``,
    one token partition. The encoder mirrors the decoder's context
    tracking exactly (the round-trip tests pin it); all-zero MBs use
    the real skip path.

    ``ymode`` is an int or a ``(mx, my) → mode`` callable. 16x16
    DC_PRED MBs ride the Y2/WHT path; ``_B_PRED`` MBs code 16
    B_DC_PRED sub-blocks (no Y2, plane-3 tokens with their own DC)
    whose per-sub-block residuals land the same exact flat targets —
    so one closed-form oracle covers frames mixing both. Non-DC
    16x16 modes (V/H/TM) remain value-correct only for uniform-128
    targets (every MB skips); they exist to drive decoder paths.

    ``submodes`` (a ``(mx, my, b) -> sub-mode`` callable) switches to
    PURE-PREDICTION authoring: every MB becomes B_PRED with those
    sub-modes, zero residuals, the real skip path — targets are
    ignored and the decoded pixels are whatever the §12.3 prediction
    cascade produces. Tests compare that against an independent
    simulation; it is not oracle-closed-form.

    ``segments`` enables SEGMENTATION (§9.3): ``{"map": (mx, my) →
    0..3, "q_abs": [four absolute q indices], "lf_abs": [four
    absolute filter levels]?}`` — absolute feature mode with a
    tree-coded map. Residual levels are solved per segment's
    dequant (:func:`_search_dc_level`), which bounds exact flat
    targets to quantizers fine enough to reach them (the solver
    fails loud otherwise; chroma beyond q=4 needs residual-0
    targets, i.e. U=V=128 frames). 16x16 DC_PRED only."""
    mb_cols, mb_rows = (w + 15) >> 4, (h + 15) >> 4
    if submodes is not None:
        ymode = _B_PRED
    ymode_of = ymode if callable(ymode) else (lambda mx, my: ymode)
    seg_of = None
    if segments is not None:
        seg_of = segments["map"]
        seg_q = [int(q) for q in segments["q_abs"]]
        seg_lf = segments.get("lf_abs")
    # --- plan residuals via the decoder's own prediction arithmetic
    # (every MB reconstructs exactly flat at its target, so the grid
    # of targets IS the reconstruction for planning purposes — for
    # 16x16 DC and B_PRED/B_DC alike)
    ty = [[0] * mb_cols for _ in range(mb_rows)]
    tu = [[0] * mb_cols for _ in range(mb_rows)]
    tv = [[0] * mb_cols for _ in range(mb_rows)]
    levels = [[None] * mb_cols for _ in range(mb_rows)]
    for my in range(mb_rows):
        for mx in range(mb_cols):
            y, u, v = mb_vals(mx, my)
            ty[my][mx], tu[my][mx], tv[my][mx] = y, u, v

            def dc_pred(grid, size):
                above = grid[my - 1][mx] if my > 0 else None
                left = grid[my][mx - 1] if mx > 0 else None
                if above is not None and left is not None:
                    return (size * above + size * left + size) >> (
                        5 if size == 16 else 4
                    )
                if above is not None:
                    return above
                if left is not None:
                    return left
                return 128

            ru = u - dc_pred(tu, 8)
            rv = v - dc_pred(tv, 8)
            if seg_of is not None:
                if ymode_of(mx, my) != _DC_PRED:
                    raise ValueError(
                        "vp8 synth: segments support 16x16 DC_PRED "
                        "macroblocks only"
                    )
                qb = seg_q[seg_of(mx, my)]
                dqf = _dequant_factors(qb)
                ry = y - dc_pred(ty, 16)
                levels[my][mx] = (
                    _search_dc_level(ry, "y2", dqf["y2dc"]),
                    _search_dc_level(ru, "dc", dqf["uvdc"]),
                    _search_dc_level(rv, "dc", dqf["uvdc"]),
                )
                continue
            if ymode_of(mx, my) == _B_PRED:
                # per-sub-block B_DC predictions from flat neighbors:
                # above = own target for rows 1-3 else the above MB's
                # (127 off-frame); left = own target for cols 1-3
                # else the left MB's (129 off-frame). dc=(4a+4l+4)>>3
                # and plane-3 DC dequant is 8 at _SYNTH_QI, so level
                # = target − dc exactly (residual (8L+4)>>3 = L).
                subs = []
                for b in range(16):
                    bx, by = b % 4, b // 4
                    if by > 0:
                        a = y
                    elif my > 0:
                        a = ty[my - 1][mx]
                    else:
                        a = 127
                    if bx > 0:
                        lft = y
                    elif mx > 0:
                        lft = ty[my][mx - 1]
                    else:
                        lft = 129
                    dc = (4 * a + 4 * lft + 4) >> 3
                    subs.append(y - dc)
                if submodes is not None:
                    subs, ru, rv = [0] * 16, 0, 0
                levels[my][mx] = ("bpred", subs, ru, rv)
            else:
                ry = y - dc_pred(ty, 16)
                levels[my][mx] = _flat_mb_levels(ry, ru, rv)

    def _is_skip(entry) -> bool:
        if entry[0] == "bpred":
            return not any(entry[1]) and entry[2] == 0 and entry[3] == 0
        return entry == (0, 0, 0)

    # --- first partition: header + per-MB modes
    hd = _BoolEnc()
    hd.literal(0, 1)  # color space
    hd.literal(0, 1)  # clamping
    if seg_of is None:
        hd.put(0, 128)    # segmentation off
    else:
        hd.put(1, 128)    # segmentation on
        hd.put(1, 128)    # update map
        hd.put(1, 128)    # update feature data
        hd.put(1, 128)    # absolute values
        for q in seg_q:
            hd.put(1, 128)
            hd.signed_literal(q, 7)
        for i in range(4):
            if seg_lf is not None:
                hd.put(1, 128)
                hd.signed_literal(int(seg_lf[i]), 6)
            else:
                hd.put(0, 128)
        for pr in _SYNTH_SEG_PROBS:
            hd.put(1, 128)
            hd.literal(pr, 8)
    hd.literal(filter_type, 1)  # 0 = NORMAL, 1 = SIMPLE
    hd.literal(filter_level, 6)
    hd.literal(sharpness, 3)
    if lf_deltas is None:
        hd.put(0, 128)    # no loop-filter deltas
    else:
        # {"ref": [4 signed], "mode": [4 signed]} — §9.4 layout
        hd.put(1, 128)    # adjustments enabled
        hd.put(1, 128)    # delta update follows
        for v in lf_deltas.get("ref", [0, 0, 0, 0]):
            if v:
                hd.put(1, 128)
                hd.signed_literal(int(v), 6)
            else:
                hd.put(0, 128)
        for v in lf_deltas.get("mode", [0, 0, 0, 0]):
            if v:
                hd.put(1, 128)
                hd.signed_literal(int(v), 6)
            else:
                hd.put(0, 128)
    hd.literal(0, 2)  # one token partition
    hd.literal(_SYNTH_QI, 7)
    for _ in range(5):
        hd.put(0, 128)  # no quantizer deltas
    hd.literal(1, 1)  # refresh entropy probs
    for _t in range(4):
        for _b in range(8):
            for _c in range(3):
                for _p in range(11):
                    hd.put(0, _COEF_UPDATE_PROB)  # keep defaults
    hd.literal(1, 1)  # mb_no_coeff_skip on
    hd.literal(200, 8)  # prob_skip_false
    above_sub = [_B_DC] * (mb_cols * 4)
    for my in range(mb_rows):
        left_sub = [_B_DC] * 4
        for mx in range(mb_cols):
            if seg_of is not None:
                hd.tree(
                    _MB_SEGMENT_TREE, _SYNTH_SEG_PROBS,
                    seg_of(mx, my),
                )
            skip = 1 if _is_skip(levels[my][mx]) else 0
            hd.put(skip, 200)
            ym = ymode_of(mx, my)
            hd.tree(_KF_YMODE_TREE, _KF_YMODE_PROB, ym)
            if ym == _B_PRED:
                # decoder-mirrored sub-mode contexts (all B_DC here)
                subs_written = []
                for b in range(16):
                    bx, by = b % 4, b // 4
                    am = (
                        above_sub[mx * 4 + bx]
                        if by == 0
                        else subs_written[b - 4]
                    )
                    lm = (
                        left_sub[by] if bx == 0 else subs_written[b - 1]
                    )
                    sm = (
                        submodes(mx, my, b)
                        if submodes is not None
                        else _B_DC
                    )
                    hd.tree(_BMODE_TREE, _kf_bmode_probs(am, lm), sm)
                    subs_written.append(sm)
                above_sub[mx * 4 : mx * 4 + 4] = subs_written[12:16]
                for by in range(4):
                    left_sub[by] = subs_written[by * 4 + 3]
            else:
                imp = _IMPLIED_SUBMODE[ym]
                above_sub[mx * 4 : mx * 4 + 4] = [imp] * 4
                left_sub[:] = [imp] * 4
            hd.tree(_UV_MODE_TREE, _KF_UV_MODE_PROB, uvmode)
    part1 = hd.bytes()

    # --- token partition with decoder-identical context tracking
    te = _BoolEnc()
    above_y = [0] * (mb_cols * 4)
    above_u = [0] * (mb_cols * 2)
    above_v = [0] * (mb_cols * 2)
    above_y2 = [0] * mb_cols
    for my in range(mb_rows):
        left_y, left_u, left_v, left_y2 = [0] * 4, [0] * 2, [0] * 2, [0]
        for mx in range(mb_cols):
            entry = levels[my][mx]
            bpred = entry[0] == "bpred"
            if _is_skip(entry):  # skipped MB
                above_y[mx * 4 : mx * 4 + 4] = [0] * 4
                above_u[mx * 2 : mx * 2 + 2] = [0] * 2
                above_v[mx * 2 : mx * 2 + 2] = [0] * 2
                left_y[:] = [0] * 4
                left_u[:] = [0] * 2
                left_v[:] = [0] * 2
                if not bpred:  # B_PRED has no Y2: ctx untouched
                    above_y2[mx] = 0
                    left_y2[0] = 0
                continue
            if bpred:
                _tag, subs, lu, lv = entry
                for b in range(16):
                    bx, by = b % 4, b // 4
                    blk = [0] * 16
                    blk[0] = subs[b]
                    ctx = above_y[mx * 4 + bx] + left_y[by]
                    eob = _encode_block(te, _PLANE_Y_DC, 0, ctx, blk)
                    above_y[mx * 4 + bx] = left_y[by] = (
                        1 if eob > 0 else 0
                    )
            else:
                ly2, lu, lv = entry
                blk = [0] * 16
                blk[0] = ly2
                ctx = above_y2[mx] + left_y2[0]
                eob = _encode_block(te, _PLANE_Y2, 0, ctx, blk)
                nz2 = 1 if eob > 0 else 0
                above_y2[mx] = left_y2[0] = nz2
                for b in range(16):
                    bx, by = b % 4, b // 4
                    ctx = above_y[mx * 4 + bx] + left_y[by]
                    eob = _encode_block(
                        te, _PLANE_Y_NO_DC, 1, ctx, [0] * 16
                    )
                    above_y[mx * 4 + bx] = left_y[by] = (
                        1 if eob > 1 else 0
                    )
            for lev, above_c, left_c in (
                (lu, above_u, left_u), (lv, above_v, left_v),
            ):
                for b in range(4):
                    bx, by = b % 2, b // 2
                    blk = [0] * 16
                    blk[0] = lev
                    ctx = above_c[mx * 2 + bx] + left_c[by]
                    eob = _encode_block(te, _PLANE_UV, 0, ctx, blk)
                    above_c[mx * 2 + bx] = left_c[by] = (
                        1 if eob > 0 else 0
                    )
    tokens = te.bytes()

    tag = len(part1) << 5  # keyframe (bit0=0), version 0, show 0
    head = bytes(
        (tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF)
    ) + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    return head + part1 + tokens


def build_webp_vp8(w: int, h: int, mb_vals, ymode=_DC_PRED,
                   uvmode: int = _DC_PRED, filter_level: int = 0,
                   sharpness: int = 0, filter_type: int = 1,
                   submodes=None, segments=None,
                   lf_deltas=None) -> bytes:
    """Wrap :func:`encode_flat_frame` in a RIFF/WEBP container."""
    frame = encode_flat_frame(
        w, h, mb_vals, ymode, uvmode, filter_level, sharpness,
        filter_type, submodes, segments, lf_deltas,
    )
    return _riff_chunk(b"RIFF", b"WEBP" + _riff_chunk(b"VP8 ", frame))


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    """One RIFF chunk — the one writer for every RIFF format here
    (WebP, WAV, AVI): fourcc, little-endian data size, the data, and
    a pad byte after odd-sized data (not counted in the size)."""
    return fourcc + struct.pack("<I", len(data)) + data + b"\x00" * (
        len(data) & 1
    )


def vp8_pixel_sums(raw: bytes) -> tuple:
    """Decode the ``VP8 `` chunk of a RIFF/WEBP payload to exact RGB
    channel sums: full key-frame decode (:func:`decode_frame`), point
    chroma upsampling (each luma pixel reads chroma (x>>1, y>>1)),
    and the repo's standard integer BT.601 fixed point
    (1402/344/714/1772, floor half-up) — the same convention as the
    JPEG lanes, so one oracle formula family covers both codecs.
    Returns (n_pixels, sum_r, sum_g, sum_b)."""
    import numpy as np

    if raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        raise ValueError("not WebP")
    at, n = 12, len(raw)
    chunk = None
    while at + 8 <= n:
        fourcc = raw[at : at + 4]
        (size,) = struct.unpack_from("<I", raw, at + 4)
        if fourcc == b"VP8 ":
            if at + 8 + size > n:
                raise ValueError("webp: truncated VP8 chunk")
            chunk = raw[at + 8 : at + 8 + size]
            break
        at += 8 + size + (size & 1)
    if chunk is None:
        raise ValueError("webp: no VP8 chunk")
    w, h, r, g, b = decode_rgb(chunk)
    return (
        w * h,
        int(r.sum()),
        int(g.sum()),
        int(b.sum()),
    )


def decode_rgb(chunk: bytes) -> tuple:
    """Decode one ``VP8 `` chunk to ``(w, h, r, g, b)`` int64 pixel
    arrays: full key-frame decode (:func:`decode_frame`), point
    chroma upsampling, the repo's integer BT.601 fixed point — the
    per-pixel form the r15 animated-WebP compositor needs (sums
    alone can't composite)."""
    import numpy as np

    w, h, Y, U, V = decode_frame(chunk)
    y = Y.astype(np.int64)
    u = np.repeat(np.repeat(U, 2, axis=0), 2, axis=1)[:h, :w].astype(
        np.int64
    )
    v = np.repeat(np.repeat(V, 2, axis=0), 2, axis=1)[:h, :w].astype(
        np.int64
    )

    def chan(x):
        return np.clip((x + 500) // 1000, 0, 255)

    r = chan(1000 * y + 1402 * (v - 128))
    g = chan(1000 * y - 344 * (u - 128) - 714 * (v - 128))
    b = chan(1000 * y + 1772 * (u - 128))
    return (w, h, r, g, b)


# -------------------------------------------------- simple loop filter

def _simple_filter_edge(p1, p0, q0, q1, limit):
    """RFC 6386 §15.1 simple-filter adjustment for one edge, numpy-
    vectorized along it: signed arithmetic on (pixel − 128), the
    2·|p0−q0| + |p1−q1|/2 ≤ limit mask, a = 3(q0−p0) + clamp(p1−q1),
    then q0 −= clamp(a+4)>>3 and p0 += clamp(a+3)>>3. Returns the
    adjusted (p0, q0) as int64 arrays."""
    import numpy as np

    c = lambda x: np.clip(x, -128, 127)  # noqa: E731
    P1, P0 = p1.astype(np.int64) - 128, p0.astype(np.int64) - 128
    Q0, Q1 = q0.astype(np.int64) - 128, q1.astype(np.int64) - 128
    mask = (np.abs(P0 - Q0) * 2 + np.abs(P1 - Q1) // 2) <= limit
    a = c(3 * (Q0 - P0) + c(P1 - Q1))
    f = c(a + 4) >> 3
    e = c(a + 3) >> 3
    new_q0 = np.where(mask, c(Q0 - f), Q0) + 128
    new_p0 = np.where(mask, c(P0 + e), P0) + 128
    return new_p0, new_q0


def _filter_limits(level: int, sharpness: int) -> tuple:
    """§15.1-2 limit derivation shared by both filters: (interior
    limit, MB-edge limit, subblock-edge limit, hev threshold — the
    key-frame ramp 0/1/2 at levels <15/<40/≥40)."""
    interior = level
    if sharpness:
        interior >>= 2 if sharpness > 4 else 1
        interior = min(interior, 9 - sharpness)
    interior = max(1, interior)
    hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
    return (
        interior, (level + 2) * 2 + interior, level * 2 + interior,
        hev_t,
    )


def _simple_loop_filter(Y, mb_rows, mb_cols, mb_levels, sharpness,
                        mbs, mb_coeffs):
    """Apply the VP8 SIMPLE loop filter (filter_type 1 — luma only)
    in the spec's macroblock raster order: per MB, the left MB edge,
    then the interior vertical edges at x+4/8/12, then the top MB
    edge, then the interior horizontal edges — interior edges are
    SKIPPED for a whole-MB-prediction macroblock with no non-zero
    coefficients (it has no residual discontinuities to smooth).
    ``mb_levels`` carries the PER-MB filter level (segmentation can
    override it per segment — §9.3); a level-0 MB filters none of
    its edges. Limits per §15.1: interior = level
    (sharpness-shifted, min 1), MB edge = (level+2)·2 + interior,
    subblock edge = level·2 + interior. Mutates ``Y`` in place."""
    lim_cache: dict = {}
    for my in range(mb_rows):
        for mx in range(mb_cols):
            _skip, ymode, _uv, _subs, _sid = mbs[my * mb_cols + mx]
            level = mb_levels[my * mb_cols + mx]
            if level == 0:
                continue
            if level not in lim_cache:
                lim_cache[level] = _filter_limits(level, sharpness)
            interior, mbedge, subedge, _hev = lim_cache[level]
            x0, y0 = mx * 16, my * 16
            filt_interior = (
                mb_coeffs[my * mb_cols + mx] or ymode == _B_PRED
            )
            if mx > 0:  # left MB edge (vertical)
                sl = Y[y0 : y0 + 16, :]
                p0, q0 = _simple_filter_edge(
                    sl[:, x0 - 2], sl[:, x0 - 1],
                    sl[:, x0], sl[:, x0 + 1], mbedge,
                )
                sl[:, x0 - 1], sl[:, x0] = p0, q0
            if filt_interior:
                for dx in (4, 8, 12):
                    sl = Y[y0 : y0 + 16, :]
                    x = x0 + dx
                    p0, q0 = _simple_filter_edge(
                        sl[:, x - 2], sl[:, x - 1],
                        sl[:, x], sl[:, x + 1], subedge,
                    )
                    sl[:, x - 1], sl[:, x] = p0, q0
            if my > 0:  # top MB edge (horizontal)
                sl = Y[:, x0 : x0 + 16]
                p0, q0 = _simple_filter_edge(
                    sl[y0 - 2, :], sl[y0 - 1, :],
                    sl[y0, :], sl[y0 + 1, :], mbedge,
                )
                sl[y0 - 1, :], sl[y0, :] = p0, q0
            if filt_interior:
                for dy in (4, 8, 12):
                    sl = Y[:, x0 : x0 + 16]
                    y = y0 + dy
                    p0, q0 = _simple_filter_edge(
                        sl[y - 2, :], sl[y - 1, :],
                        sl[y, :], sl[y + 1, :], subedge,
                    )
                    sl[y - 1, :], sl[y, :] = p0, q0


# -------------------------------------------------- normal loop filter

def _normal_filter_edge(px, limit, interior, hev_t, mb_edge: bool):
    """RFC 6386 §15.3 NORMAL filter for one edge, numpy-vectorized
    along it. ``px`` is the 8-pixel cross-section [p3..p0, q0..q3]
    as arrays; returns the adjusted (p2, p1, p0, q0, q1, q2). All
    arithmetic is the spec's signed form on (pixel − 128) with
    clamping to [−128, 127]. The filter mask adds the six
    interior-difference bounds to the simple filter's edge bound;
    high-edge-variance (hev) pixels take the 2-pixel common adjust,
    non-hev MB edges the 27/18/9-tap 6-pixel filter, non-hev
    subblock edges the common adjust plus the (F+1)>>1 outer tap."""
    import numpy as np

    c = lambda x: np.clip(x, -128, 127)  # noqa: E731
    P3, P2, P1, P0, Q0, Q1, Q2, Q3 = [
        a.astype(np.int64) - 128 for a in px
    ]
    mask = (
        ((np.abs(P0 - Q0) * 2 + np.abs(P1 - Q1) // 2) <= limit)
        & (np.abs(P3 - P2) <= interior)
        & (np.abs(P2 - P1) <= interior)
        & (np.abs(P1 - P0) <= interior)
        & (np.abs(Q1 - Q0) <= interior)
        & (np.abs(Q2 - Q1) <= interior)
        & (np.abs(Q3 - Q2) <= interior)
    )
    hev = (np.abs(P1 - P0) > hev_t) | (np.abs(Q1 - Q0) > hev_t)
    # common adjust WITH outer taps (hev pixels, both edge kinds)
    a_full = c(c(P1 - Q1) + 3 * (Q0 - P0))
    F_full = c(a_full + 4) >> 3
    E_full = c(a_full + 3) >> 3
    m_hev = mask & hev
    if mb_edge:
        w = a_full
        a27 = c((27 * w + 63) >> 7)
        a18 = c((18 * w + 63) >> 7)
        a9 = c((9 * w + 63) >> 7)
        m6 = mask & ~hev
        nQ0 = np.where(m6, c(Q0 - a27), np.where(m_hev, c(Q0 - F_full), Q0))
        nP0 = np.where(m6, c(P0 + a27), np.where(m_hev, c(P0 + E_full), P0))
        nQ1 = np.where(m6, c(Q1 - a18), Q1)
        nP1 = np.where(m6, c(P1 + a18), P1)
        nQ2 = np.where(m6, c(Q2 - a9), Q2)
        nP2 = np.where(m6, c(P2 + a9), P2)
    else:
        # subblock edge: outer taps only under hev
        a = c(np.where(hev, c(P1 - Q1), 0) + 3 * (Q0 - P0))
        F = c(a + 4) >> 3
        E = c(a + 3) >> 3
        nQ0 = np.where(mask, c(Q0 - F), Q0)
        nP0 = np.where(mask, c(P0 + E), P0)
        a2 = (F + 1) >> 1
        m2 = mask & ~hev
        nQ1 = np.where(m2, c(Q1 - a2), Q1)
        nP1 = np.where(m2, c(P1 + a2), P1)
        nQ2, nP2 = Q2, P2
    return (
        nP2 + 128, nP1 + 128, nP0 + 128,
        nQ0 + 128, nQ1 + 128, nQ2 + 128,
    )


def _nf_vertical(plane, y0, size, x, limit, interior, hev_t, mb_edge):
    sl = plane[y0 : y0 + size, :]
    cols = [sl[:, x - 4 + i] for i in range(8)]
    out = _normal_filter_edge(cols, limit, interior, hev_t, mb_edge)
    for i, arr in enumerate(out):
        sl[:, x - 3 + i] = arr


def _nf_horizontal(plane, x0, size, y, limit, interior, hev_t, mb_edge):
    rows = [plane[y - 4 + i, x0 : x0 + size] for i in range(8)]
    out = _normal_filter_edge(rows, limit, interior, hev_t, mb_edge)
    for i, arr in enumerate(out):
        plane[y - 3 + i, x0 : x0 + size] = arr


def _normal_loop_filter(Y, U, V, mb_rows, mb_cols, mb_levels,
                        sharpness, mbs, mb_coeffs):
    """Apply the VP8 NORMAL loop filter (filter_type 0 — §15.2) to
    all three planes in the spec's macroblock raster order: per MB,
    the left MB edge (luma 16 rows, both chroma 8), interior
    vertical subblock edges (luma x+4/8/12, chroma x+4), the top MB
    edge, then interior horizontal edges — interior edges only when
    the MB has non-zero coefficients or is B_PRED. Filtering runs
    AFTER full-frame reconstruction (intra prediction reads
    unfiltered pixels — §15), which this call order preserves.
    ``mb_levels`` carries the per-MB (segment-resolved) filter
    level; a level-0 MB filters none of its edges. Mutates the
    planes in place."""
    lim_cache: dict = {}
    for my in range(mb_rows):
        for mx in range(mb_cols):
            _skip, ymode, _uv, _subs, _sid = mbs[my * mb_cols + mx]
            level = mb_levels[my * mb_cols + mx]
            if level == 0:
                continue
            if level not in lim_cache:
                lim_cache[level] = _filter_limits(level, sharpness)
            interior, mbedge, subedge, hev_t = lim_cache[level]
            filt_int = mb_coeffs[my * mb_cols + mx] or ymode == _B_PRED
            yx, yy = mx * 16, my * 16
            cx, cy = mx * 8, my * 8
            if mx > 0:
                _nf_vertical(Y, yy, 16, yx, mbedge, interior, hev_t, True)
                _nf_vertical(U, cy, 8, cx, mbedge, interior, hev_t, True)
                _nf_vertical(V, cy, 8, cx, mbedge, interior, hev_t, True)
            if filt_int:
                for dx in (4, 8, 12):
                    _nf_vertical(
                        Y, yy, 16, yx + dx, subedge, interior, hev_t,
                        False,
                    )
                _nf_vertical(
                    U, cy, 8, cx + 4, subedge, interior, hev_t, False
                )
                _nf_vertical(
                    V, cy, 8, cx + 4, subedge, interior, hev_t, False
                )
            if my > 0:
                _nf_horizontal(Y, yx, 16, yy, mbedge, interior, hev_t, True)
                _nf_horizontal(U, cx, 8, cy, mbedge, interior, hev_t, True)
                _nf_horizontal(V, cx, 8, cy, mbedge, interior, hev_t, True)
            if filt_int:
                for dy in (4, 8, 12):
                    _nf_horizontal(
                        Y, yx, 16, yy + dy, subedge, interior, hev_t,
                        False,
                    )
                _nf_horizontal(
                    U, cx, 8, cy + 4, subedge, interior, hev_t, False
                )
                _nf_horizontal(
                    V, cx, 8, cy + 4, subedge, interior, hev_t, False
                )
