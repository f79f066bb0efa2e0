"""Opus energy-envelope decode for the audio fingerprint tier.

Extends the MP3 Layer III proxy discipline (``codecs.py`` — side-info
``global_gain`` without Huffman/IMDCT synthesis) to Ogg Opus: an Opus
stream's amplitude envelope is recoverable from symbols that sit at the
FRONT of each frame's range-coded payload, long before the expensive
residual/PVQ machinery —

* **SILK frames** (configs 0–11 and the hybrid 12–15, RFC 6716 §4.2):
  header VAD/LBRR bits, the frame-type symbol, then the per-subframe
  quantization GAINS — decoded through a real range decoder (§4.1
  layout: ``ec_decode``/``ec_dec_update``/``ec_dec_icdf``) with the
  RFC's OWN probability tables, transcribed below: the frame-type
  iCDFs (§4.2.7.3), the per-signal-class independent gain MSB iCDFs +
  uniform-8 LSB (§4.2.7.4), the 41-symbol delta-gain iCDF, and the
  stereo-weight layout (§4.2.7.1: one 25-way joint symbol plus a
  uniform-3 and uniform-5 refinement per weight) with the mid-only
  flag's iCDF (§4.2.7.2). Dequantization follows the RFC rules:
  ``log_gain = max(ind0, prev - 16)`` for an independently-coded
  first subframe, ``clamp(max(2*ind - 16, prev + ind - 4), 0, 63)``
  for delta-coded subframes (the double-step escape), the decoder
  state threading across packets exactly like ``LastGainIndex``
  (reset value 10), and the log-to-linear mapping
  ``2**((0x1D1C71*lg >> 16) + 2090)/128 - 16)`` — the quantizer's
  documented ~1.369 dB steps spanning ~2..88 dB. A real-world
  libopus SILK or hybrid stream therefore yields its TRUE gain
  envelope (proof against an external encoder is seam-gated in
  tests/test_opus.py, same discipline as ``fast_image_decoder``).
* **CELT frames** (configs 16–31, §4.3): the REAL bitstream walk with
  RFC 6716's own tables, transcribed round 10 — silence; the
  budget-gated post-filter (uint-coded octave, raw END-bits for
  period/gain, tapset iCDF); transient (LM > 0 only); intra; then
  per-band per-channel coarse energy through the bit-exact
  ``ec_laplace`` interval layout under ``e_prob_model[LM][intra]``,
  with the two-term predictor (``pred_coef``/``beta_coef`` per LM,
  cross-frame oldEBands state) and the reference's budget-fallback
  ladder (15-bit Laplace → 2-bit zigzag → sign bit → implicit −1).
  Band count follows the TOC bandwidth (NB 13 / WB 17 / SWB 19 /
  FB 21). Stereo CELT interleaves the channels per band and the
  envelope averages them. Real-world Opus music therefore yields its
  TRUE coarse-energy envelope — the round-9 fixture-marker gate is
  retired.

What this is NOT: a PCM decoder. Stereo SILK walks the MID channel
(the mono mix — exactly the envelope the fingerprint wants) after
stepping the stereo-weight symbols; unsupported layouts (surround,
40/60 ms SILK packets, LBRR redundancy, Vorbis) refuse loudly and
take the quarantine channel upstream.

Self-consistency is pinned by round trips (tests/test_opus.py,
hypothesis fuzz incl. carry-cascade patterns in the range coder)
against the pure-arithmetic quantizer mirrors
(``silk_quantize_envelope`` / ``celt_quantize_envelope``), and the
planted-pair truth: a re-encode and a half-volume re-encode of the
same envelope must land at Hamming ≤ threshold in
``media_near_dup_pairs(signature="audio")``.
"""

from __future__ import annotations

import struct

import numpy as np

# --- range coder (RFC 6716 §4.1 layout) -----------------------------------
#
# 32-bit state, 8-bit symbols, 7 extra code bits: rng renormalizes at
# 2^23, values live below 2^31. The decoder consumes bytes MSB-first
# with the RFC's odd-looking complement (val tracks the DISTANCE to the
# top of the current interval); the encoder mirrors it with classic
# carry counting (rem + a run of 0xFF bytes that a carry flips to 0x00).

_SYM_BITS = 8
_CODE_BITS = 32
_CODE_EXTRA = 7
_CODE_TOP = 1 << (_CODE_BITS - 1)
_CODE_BOT = _CODE_TOP >> _SYM_BITS
_CODE_SHIFT = _CODE_BITS - _SYM_BITS - 1
_SYM_MAX = (1 << _SYM_BITS) - 1


# Bit-usage bookkeeping (ec_tell): nbits_total starts at
# CODE_BITS + 1 - ((CODE_BITS - CODE_EXTRA)//SYM_BITS)*SYM_BITS = 9 for
# the decoder (each renormalization adds SYM_BITS; raw end-bits add
# their count), and tell() = nbits_total - rng.bit_length() — so the
# very first binary symbol reads as costing 1 bit. CELT's budget
# fallbacks (§4.3.2.1) compare tell() against the frame's 8*len bits.
_DEC_NBT0 = _CODE_BITS + 1 - ((_CODE_BITS - _CODE_EXTRA) // _SYM_BITS) * _SYM_BITS


class RangeDecoder:
    __slots__ = (
        "buf", "pos", "rng", "val", "rem", "ext", "nbt",
        "end_offs", "end_window", "end_avail",
    )

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0
        self.nbt = _DEC_NBT0
        self.rem = self._byte()
        self.rng = 1 << _CODE_EXTRA
        self.val = self.rng - 1 - (self.rem >> (_SYM_BITS - _CODE_EXTRA))
        self.ext = 0
        self.end_offs = 0  # bytes consumed from the BACK (raw bits)
        self.end_window = 0
        self.end_avail = 0
        self._normalize()

    def _byte(self) -> int:
        b = self.buf[self.pos] if self.pos < len(self.buf) else 0
        self.pos += 1
        return b

    def _normalize(self) -> None:
        while self.rng <= _CODE_BOT:
            self.nbt += _SYM_BITS
            self.rng <<= _SYM_BITS
            sym = self.rem
            self.rem = self._byte()
            sym = ((sym << _SYM_BITS) | self.rem) >> (_SYM_BITS - _CODE_EXTRA)
            self.val = (
                (self.val << _SYM_BITS) + (_SYM_MAX & ~sym)
            ) & (_CODE_TOP - 1)

    def tell(self) -> int:
        """Total bits consumed so far (both ends), conservatively
        rounded up — libopus ec_tell()."""
        return self.nbt - self.rng.bit_length()

    def decode(self, ft: int) -> int:
        """Current cumulative-frequency estimate in [0, ft)."""
        self.ext = self.rng // ft
        s = self.val // self.ext
        return ft - min(s + 1, ft)

    def update(self, fl: int, fh: int, ft: int) -> None:
        s = self.ext * (ft - fh)
        self.val -= s
        self.rng = self.ext * (fh - fl) if fl > 0 else self.rng - s
        self._normalize()

    def dec_icdf(self, icdf, ftb: int) -> int:
        """Symbol from an inverse-CDF table: icdf[k] = ft - cdf(k+1),
        scaled to ft = 2**ftb; the table is non-increasing, last = 0."""
        s = self.rng
        r = s >> ftb
        k = -1
        while True:
            t = s
            k += 1
            s = r * icdf[k]
            if self.val >= s:
                break
        self.val -= s
        self.rng = t - s
        self._normalize()
        return k

    def dec_bit_logp(self, logp: int) -> int:
        """One binary symbol with P(1) = 2**-logp (the flag coder)."""
        r = self.rng
        d = self.val
        s = r >> logp
        ret = d < s
        if ret:
            self.rng = s
        else:
            self.val = d - s
            self.rng = r - s
        self._normalize()
        return int(ret)

    def dec_bits(self, n: int) -> int:
        """n raw (uniform) bits from the END of the buffer — the
        second bitstream real Opus frames carry: bytes are consumed
        back-to-front, each unpacked LSB-first (ec_dec_bits). The
        range stream reading forward and the raw bits reading backward
        share the buffer exactly as in the RFC layout."""
        while self.end_avail < n:
            if self.end_offs < len(self.buf):
                self.end_offs += 1
                b = self.buf[len(self.buf) - self.end_offs]
            else:
                b = 0
            self.end_window |= b << self.end_avail
            self.end_avail += 8
        ret = self.end_window & ((1 << n) - 1)
        self.end_window >>= n
        self.end_avail -= n
        self.nbt += n
        return ret

    def dec_uint(self, ft: int) -> int:
        """A uniformly-distributed integer in [0, ft) (the ec_dec_uint
        small-ft path — one symbol; this module never needs ft > 256)."""
        t = self.decode(ft)
        self.update(t, t + 1, ft)
        return t


class RangeEncoder:
    __slots__ = (
        "out", "low", "rng", "rem", "ext", "nbt", "end_bytes",
        "end_window", "end_avail",
    )

    def __init__(self) -> None:
        self.out = bytearray()
        self.low = 0
        self.rng = _CODE_TOP
        self.rem = -1  # no byte pending yet
        self.ext = 0  # run of 0xFF bytes a carry may flip
        self.nbt = _CODE_BITS + 1
        self.end_bytes = bytearray()  # raw-bit bytes, back-to-front
        self.end_window = 0
        self.end_avail = 0

    def tell(self) -> int:
        return self.nbt - self.rng.bit_length()

    def _carry_out(self, c: int) -> None:
        if c != _SYM_MAX:
            carry = c >> _SYM_BITS
            if self.rem >= 0:
                self.out.append((self.rem + carry) & 0xFF)
            while self.ext > 0:
                self.out.append((_SYM_MAX + carry) & 0xFF)
                self.ext -= 1
            self.rem = c & _SYM_MAX
        else:
            self.ext += 1

    def _normalize(self) -> None:
        while self.rng <= _CODE_BOT:
            self._carry_out(self.low >> _CODE_SHIFT)
            self.low = (self.low << _SYM_BITS) & (_CODE_TOP - 1)
            self.rng <<= _SYM_BITS
            self.nbt += _SYM_BITS

    def encode(self, fl: int, fh: int, ft: int) -> None:
        if not 0 <= fl < fh <= ft:
            raise ValueError(f"empty coding interval [{fl}, {fh}) of {ft}")
        r = self.rng // ft
        if fl > 0:
            self.low += self.rng - r * (ft - fl)
            self.rng = r * (fh - fl)
        else:
            self.rng -= r * (ft - fh)
        self._normalize()

    def enc_icdf(self, k: int, icdf, ftb: int) -> None:
        ft = 1 << ftb
        fl = ft - icdf[k - 1] if k > 0 else 0
        fh = ft - icdf[k]
        self.encode(fl, fh, ft)

    def enc_bit_logp(self, bit: int, logp: int) -> None:
        # the decoder's val is the RFC's distance-to-top complement, so
        # the '1' interval that reads as [0, s) in val-space is the TOP
        # of low-space: low += r - s
        r = self.rng
        s = r >> logp
        if bit:
            self.low += r - s
            self.rng = s
        else:
            self.rng = r - s
        self._normalize()

    def enc_bits(self, val: int, n: int) -> None:
        """n raw bits into the END bitstream (ec_enc_bits): packed
        LSB-first into bytes that ``done`` appends back-to-front, the
        mirror of ``RangeDecoder.dec_bits``."""
        self.end_window |= (val & ((1 << n) - 1)) << self.end_avail
        self.end_avail += n
        while self.end_avail >= 8:
            self.end_bytes.append(self.end_window & 0xFF)
            self.end_window >>= 8
            self.end_avail -= 8
        self.nbt += n

    def enc_uint(self, t: int, ft: int) -> None:
        self.encode(t, t + 1, ft)

    def done(self) -> bytes:
        """Flush: emit enough of low to make decoding unambiguous,
        then append the raw-bit bytes back-to-front at the buffer's
        tail (the RFC's two-ended frame layout). The decoder's eager
        forward prefetch may read into the tail bytes — harmless by
        construction, since the flush already pinned every coded
        symbol's interval."""
        # push out 4 full renormalizations — any value in [low, low+rng)
        # decodes correctly, and low itself always is
        for _ in range(_CODE_BITS // _SYM_BITS + 1):
            self._carry_out(self.low >> _CODE_SHIFT)
            self.low = (self.low << _SYM_BITS) & (_CODE_TOP - 1)
        if self.rem >= 0:
            self.out.append(self.rem & 0xFF)
        while self.ext > 0:
            self.out.append(0xFF)
            self.ext -= 1
        tail = bytearray(self.end_bytes)
        if self.end_avail > 0:
            tail.append(self.end_window & 0xFF)
        return bytes(self.out) + bytes(reversed(tail))


# --- SILK symbol tables (transcribed from RFC 6716) -------------------------
#
# icdf rows with ft = 256: icdf[k] = 256 - cdf(k+1), non-increasing,
# terminal 0. These are the RFC's published tables for every symbol the
# gain walk touches (silk_type_offset_*_iCDF, silk_gain_iCDF,
# silk_uniform{3,5,8}_iCDF, silk_delta_gain_iCDF,
# silk_stereo_pred_joint_iCDF, silk_stereo_only_code_mid_iCDF).

# frame type (§4.2.7.3): VAD-inactive → {inactive, inactive+offset};
# VAD-active → {unvoiced-low, unvoiced-high, voiced-low, voiced-high}
_ICDF_TYPE_NO_VAD = (230, 0)
_ICDF_TYPE_VAD = (232, 158, 10, 0)
# independent gain MSB per signal class (§4.2.7.4, 8 symbols each)
_ICDF_GAIN_MSB = {
    0: (224, 112, 44, 15, 3, 2, 1, 0),  # inactive
    1: (254, 237, 192, 132, 70, 23, 4, 0),  # unvoiced
    2: (243, 192, 123, 64, 48, 15, 4, 0),  # voiced
}
_ICDF_GAIN_LSB = (224, 192, 160, 128, 96, 64, 32, 0)  # uniform 8
# delta gain (41 symbols): strong peak at symbol 4 (= hold)
_ICDF_GAIN_DELTA = (
    250, 245, 234, 203, 71, 50, 42, 38, 35, 33, 31, 29, 28, 27, 26, 25,
    24, 23, 22, 21, 20, 19, 18, 17, 16, 15, 14, 13, 12, 11, 10, 9,
    8, 7, 6, 5, 4, 3, 2, 1, 0,
)
# stereo prediction weights (§4.2.7.1): one joint symbol over the 25
# (w0,w1) quantization pairs, then per weight a uniform-3 and a
# uniform-5 refinement — decoded to SKIP them (the envelope wants the
# mid gains, and the mid IS the mono mix)
_ICDF_STEREO_JOINT = (
    249, 247, 246, 245, 244, 234, 210, 202, 201, 200, 197, 174, 82,
    59, 56, 55, 54, 46, 22, 12, 11, 10, 9, 7, 0,
)
_ICDF_UNIFORM3 = (171, 85, 0)
_ICDF_UNIFORM5 = (205, 154, 102, 51, 0)
# mid-only flag (§4.2.7.2) — coded only when the side channel's VAD
# flag is inactive for the frame
_ICDF_MID_ONLY = (64, 0)

# --- SILK gain dequantization (§4.2.7.4) -------------------------------------
#
# Gain indices live in [0, 63]; the log-to-linear mapping is the RFC's
# silk_log2lin((0x1D1C71 * log_gain >> 16) + 2090) — ~1.369 dB per
# step spanning ~2..88 dB (here in exact floats: the envelope compares
# window-energy ORDER, so the reference's piecewise-parabolic 2**x
# approximation cancels). The delta rules and the cross-packet state
# (LastGainIndex, reset value 10) are transcribed verbatim.

_GAIN_STEP_Q16 = 0x1D1C71
_GAIN_OFFSET_Q7 = 2090
_GAIN_RESET_IND = 10  # the SILK decoder's LastGainIndex reset value
_N_GAIN_LEVELS = 64


def _silk_gain_log2(log_gain: int) -> float:
    return (((_GAIN_STEP_Q16 * log_gain) >> 16) + _GAIN_OFFSET_Q7) / 128.0 - 16.0


_GAIN_LOG2 = np.array([_silk_gain_log2(i) for i in range(_N_GAIN_LEVELS)])
_GAIN_LINEAR = 2.0 ** _GAIN_LOG2


def _gain_first(ind0: int, prev_ind: int) -> int:
    """Independently-coded first subframe: the index can't fall more
    than 16 notches below the previous frame's last gain."""
    return max(ind0, prev_ind - 16)


def _gain_delta(delta: int, prev_ind: int) -> int:
    """Delta-coded subframe: ±4-notch moves around hold (symbol 4),
    with the 2*ind-16 double-step escape for large upward jumps."""
    return min(max(max(2 * delta - 16, prev_ind + delta - 4), 0), 63)


def _quantize_gain_index(e: float) -> int:
    """Nearest gain index in the log domain (scale-shift friendly)."""
    return int(np.argmin(np.abs(_GAIN_LOG2 - np.log2(max(e, 1e-12)))))


def _plan_silk_gains(
    target_lg: int, prev_ind: int, n_sub: int
) -> tuple[int, list[int], list[int], int]:
    """(ind0, deltas, realized gain indices, new prev) for one frame —
    the single mirror behind the fixture encoder AND
    ``silk_quantize_envelope``, so the construction-side truth and the
    wire bytes can never drift apart. Deltas prefer hold (symbol 4)
    among equally-close options; the realized indices are whatever the
    RFC dequant rules produce for the chosen symbols (a >16-notch fall
    across an independent frame boundary saturates, exactly like the
    real codec)."""
    ind0 = target_lg
    cur = _gain_first(ind0, prev_ind)
    realized = [cur]
    deltas: list[int] = []
    order = sorted(range(41), key=lambda d: abs(d - 4))
    for _ in range(n_sub - 1):
        d = min(order, key=lambda dd: abs(_gain_delta(dd, cur) - target_lg))
        cur = _gain_delta(d, cur)
        deltas.append(d)
        realized.append(cur)
    return ind0, deltas, realized, cur


def silk_quantize_envelope(energies, frame_ms: int = 20) -> np.ndarray:
    """The envelope ``opus_energy_envelope`` returns for
    ``encode_ogg_opus_envelope(energies, mode='silk', ...)`` — pure
    quantizer arithmetic (no range coding): the independent
    construction-side truth for round-trip tests."""
    n_sub = 2 if frame_ms == 10 else 4
    prev = _GAIN_RESET_IND
    out: list[float] = []
    for e in np.asarray(energies, dtype=np.float64):
        if e == 0.0:
            continue  # DTX packet: no envelope samples
        target = _quantize_gain_index(e)
        _i, _d, realized, prev = _plan_silk_gains(target, prev, n_sub)
        out.extend(float(_GAIN_LINEAR[lg]) for lg in realized)
    return np.asarray(out, dtype=np.float64)


# --- CELT coarse-energy model (§4.3.2) ---------------------------------------
#
# The Laplace coder's interval layout is the RFC's: value 0 owns
# [0, fs0); ±k pairs walk outward with widths fs1 = ((32768 -
# 2*NMIN*MINP - fs0)*(16384 - decay) >> 15) + MINP then w' =
# ((w - 2*MINP)*decay >> 15) + MINP, and once w hits MINP everything
# beyond has probability MINP per value. The per-band (prob, decay)
# bytes below are the REAL RFC 6716 e_prob_model (transcribed round
# 10; the r9 fixture-marker gate is retired — see
# tests/test_opus.py::test_celt_decodes_without_fixture_marker).

_N_BANDS = 21
_LAPLACE_MINP = 1
_LAPLACE_NMIN = 16
_TAPSET_ICDF = (2, 1, 0)  # post-filter tapset
_CELT_BETA_INTRA = 4915.0 / 32768.0  # intra prediction leak

# RFC 6716 §4.3.2.1 e_prob_model (celt/quant_bands.c in the RFC's own
# reference source): 42 interleaved (prob, decay) bytes per row — 21
# bands — one row per (frame size LM 0-3 = 2.5/5/10/20 ms, inter/intra).
# Wired fs0 = prob<<7, decay = decay<<6 exactly as the reference does.
# Transcribed round 10 (replacing the r9 module-owned stand-ins and
# retiring the fixture-marker gate); the external-encoder seam test in
# tests/test_opus.py proves real-stream truth where an encoder exists.
_E_PROB_MODEL = (
    (  # LM 0: 120-sample (2.5 ms) frames
        (  # inter
            72, 127, 65, 129, 66, 128, 65, 128, 64, 128, 62, 128, 64, 128,
            64, 128, 92, 78, 92, 79, 92, 78, 90, 79, 116, 41, 115, 40,
            114, 40, 132, 26, 132, 26, 145, 17, 161, 12, 176, 10, 177, 11,
        ),
        (  # intra
            24, 179, 48, 138, 54, 135, 54, 132, 53, 134, 56, 133, 55, 132,
            55, 132, 61, 114, 70, 96, 74, 88, 75, 88, 87, 74, 89, 66,
            91, 67, 100, 59, 108, 50, 120, 40, 122, 37, 97, 43, 78, 50,
        ),
    ),
    (  # LM 1: 240-sample (5 ms) frames
        (
            83, 78, 84, 81, 88, 75, 86, 74, 87, 71, 90, 73, 93, 74,
            93, 74, 109, 40, 114, 36, 117, 34, 117, 34, 143, 17, 145, 18,
            146, 19, 162, 12, 165, 10, 178, 7, 189, 6, 190, 8, 177, 9,
        ),
        (
            23, 178, 54, 115, 63, 102, 66, 98, 69, 99, 74, 89, 71, 91,
            73, 91, 78, 89, 86, 80, 92, 66, 93, 64, 102, 59, 103, 60,
            104, 60, 117, 52, 123, 44, 138, 35, 133, 31, 97, 38, 77, 45,
        ),
    ),
    (  # LM 2: 480-sample (10 ms) frames
        (
            61, 90, 93, 60, 105, 42, 107, 41, 110, 45, 116, 38, 113, 38,
            112, 38, 124, 26, 132, 27, 136, 19, 140, 20, 155, 14, 159, 16,
            158, 18, 170, 13, 177, 10, 187, 8, 192, 6, 175, 9, 159, 10,
        ),
        (
            21, 178, 59, 110, 71, 86, 75, 85, 84, 83, 91, 66, 88, 73,
            87, 72, 92, 75, 98, 72, 105, 58, 107, 54, 115, 52, 114, 55,
            112, 56, 129, 51, 132, 40, 150, 33, 140, 29, 98, 35, 77, 42,
        ),
    ),
    (  # LM 3: 960-sample (20 ms) frames
        (
            42, 121, 96, 66, 108, 43, 111, 40, 117, 44, 123, 32, 120, 36,
            119, 33, 127, 33, 134, 34, 139, 21, 147, 23, 152, 20, 158, 25,
            154, 26, 166, 21, 173, 16, 184, 13, 184, 10, 150, 13, 139, 15,
        ),
        (
            22, 178, 63, 114, 74, 82, 84, 83, 92, 82, 103, 62, 96, 72,
            96, 67, 101, 73, 107, 72, 113, 55, 118, 52, 125, 52, 118, 52,
            117, 55, 135, 49, 137, 39, 157, 32, 145, 29, 97, 33, 77, 40,
        ),
    ),
)

# Coarse-energy prediction coefficients per LM (quant_bands.c): the
# time-prediction coefficient alpha and the in-frame accumulator leak
# beta, Q15.
_PRED_COEF = tuple(v / 32768.0 for v in (29440, 26112, 21248, 16384))
_BETA_COEF = tuple(v / 32768.0 for v in (30147, 22282, 12124, 6554))
# Budget fallback below 15 bits/symbol: a 4-symbol zigzag icdf, then a
# single sign bit, then an implicit -1.
_SMALL_ENERGY_ICDF = (2, 1, 0)
# CELT-only TOC configs: band count by audio bandwidth ((config-16)>>2:
# NB / WB / SWB / FB).
_CELT_END_BAND = (13, 17, 19, 21)


def _laplace_fs1(fs0: int, decay: int) -> int:
    """First ±1 slot width EXCLUDING the MINP floor (ec_laplace_get_freq1)."""
    ft = 32768 - 2 * _LAPLACE_NMIN * _LAPLACE_MINP - fs0
    return (ft * (16384 - decay)) >> 15


def _laplace_decode(dec: RangeDecoder, fs: int, decay: int) -> int:
    """Bit-exact ec_laplace_decode: value 0 owns [0, fs0); each ±k
    pair's slot width walks fs_k = (fs_{k-1}*decay >> 15) + MINP
    (geometric, floored at MINP), negative sign in the LOWER half of
    the pair; once the width hits MINP everything beyond costs MINP
    per value. Round-10 note: the previous revision decayed on
    (w - 2*MINP) — a self-consistent variant, but NOT the interval
    walk libopus encodes, so real-world CELT frames would have
    desynced; this is the published recursion."""
    fm = dec.decode(32768)
    val = 0
    fl = 0
    if fm >= fs:
        val += 1
        fl = fs
        fs = _laplace_fs1(fs, decay) + _LAPLACE_MINP
        # search the decaying part of the PDF: the decay step operates
        # on the DOUBLED pair width (2u_k*decay >> 15 = u_k*decay/2^14),
        # which is what makes the geometric sum exhaust the full
        # 32768 - 2*NMIN - fs0 budget exactly at ratio decay/2^14
        while fs > _LAPLACE_MINP and fm >= fl + 2 * fs:
            fs *= 2
            fl += fs
            fs = ((fs - 2 * _LAPLACE_MINP) * decay >> 15) + _LAPLACE_MINP
            val += 1
        # everything beyond has probability MINP per value
        if fs <= _LAPLACE_MINP:
            di = (fm - fl) >> 1
            val += di
            fl += 2 * di * _LAPLACE_MINP
        if fm < fl + fs:
            val = -val
        else:
            fl += fs
    dec.update(fl, min(fl + fs, 32768), 32768)
    return val


def _laplace_encode(enc: RangeEncoder, value: int, fs: int, decay: int) -> int:
    """Bit-exact ec_laplace_encode (saturating where the layout runs
    out of room); returns the value actually coded — callers must use
    it for their prediction state."""
    val = value
    fl = 0
    if val:
        s = -1 if val < 0 else 0
        val = (val + s) ^ s  # |val|
        fl = fs
        fs = _laplace_fs1(fs, decay)
        i = 1
        while fs > 0 and i < val:
            fs *= 2
            fl += fs + 2 * _LAPLACE_MINP
            fs = (fs * decay) >> 15  # doubled width in, single out
            i += 1
        if fs == 0:
            ndi_max = (32768 - fl + _LAPLACE_MINP - 1) >> 0  # LOG_MINP = 0
            ndi_max = (ndi_max - s) >> 1
            di = min(val - i, ndi_max - 1)
            fl += (2 * di + 1 + s) * _LAPLACE_MINP
            fs = min(_LAPLACE_MINP, 32768 - fl)
            value = ((i + di) + s) ^ s
        else:
            fs += _LAPLACE_MINP
            if s == 0:
                fl += fs
        assert fl + fs <= 32768 and fs > 0
    enc.encode(fl, fl + fs, 32768)
    return value


def _celt_prob(band: int, intra: int, lm: int = 3) -> tuple[int, int]:
    model = _E_PROB_MODEL[lm][1 if intra else 0]
    pi = 2 * min(band, 20)
    return model[pi] << 7, model[pi + 1] << 6


# --- TOC / frame splitting (§3.1–3.2) ---------------------------------------

_FRAME_MS = {  # config → frame duration in ms
    **{c: (10, 20, 40, 60)[c & 3] for c in range(12)},  # SILK NB/MB/WB
    **{c: (10, 20)[c & 1] for c in (12, 13, 14, 15)},  # hybrid
    **{c: (2.5, 5, 10, 20)[c & 3] for c in range(16, 32)},  # CELT
}


def opus_packet_frames(pkt: bytes) -> tuple[int, bool, list[bytes]]:
    """(config, stereo, frames) per RFC 6716 §3.2 — codes 0-3 with CBR
    and VBR layouts, padding honored."""
    if not pkt:
        raise ValueError("empty Opus packet")
    toc = pkt[0]
    config, stereo, code = toc >> 3, bool((toc >> 2) & 1), toc & 3
    body = pkt[1:]

    def read_len(b: bytes, at: int) -> tuple[int, int]:
        if at >= len(b):
            raise ValueError("truncated Opus frame length")
        v = b[at]
        if v < 252:
            return v, at + 1
        if at + 1 >= len(b):
            raise ValueError("truncated Opus frame length")
        return v + 4 * b[at + 1], at + 2

    if code == 0:
        frames = [body]
    elif code == 1:
        if len(body) % 2:
            raise ValueError("code-1 packet with odd payload")
        h = len(body) // 2
        frames = [body[:h], body[h:]]
    elif code == 2:
        n1, at = read_len(body, 0)
        if at + n1 > len(body):
            raise ValueError("code-2 frame overruns packet")
        frames = [body[at : at + n1], body[at + n1 :]]
    else:  # code 3
        if not body:
            raise ValueError("empty code-3 packet")
        fc = body[0]
        m = fc & 0x3F
        vbr, pad = bool(fc & 0x80), bool(fc & 0x40)
        if not 1 <= m <= 48:
            raise ValueError(f"code-3 frame count {m} out of range")
        at = 1
        pad_len = 0
        if pad:
            while True:
                if at >= len(body):
                    raise ValueError("truncated code-3 padding length")
                p = body[at]
                at += 1
                pad_len += p if p < 255 else 254
                if p != 255:
                    break
        end = len(body) - pad_len
        if vbr:
            lens = []
            for _ in range(m - 1):
                ln, at = read_len(body, at)
                lens.append(ln)
            frames = []
            for ln in lens:
                frames.append(body[at : at + ln])
                at += ln
            if at > end:
                raise ValueError("code-3 VBR frames overrun packet")
            frames.append(body[at:end])
        else:
            if (end - at) % m:
                raise ValueError("code-3 CBR payload not divisible")
            ln = (end - at) // m
            frames = [body[at + i * ln : at + (i + 1) * ln] for i in range(m)]
    return config, stereo, frames


# --- per-frame energy walks --------------------------------------------------


def _silk_frame_gains(
    frame: bytes, frame_ms: int, stereo: bool = False, prev_ind: int = _GAIN_RESET_IND
) -> tuple[list[float], int]:
    """(subframe linear gains, new LastGainIndex) of a single SILK
    frame (§4.2): VAD flag(s), LBRR flag(s), then — for stereo — the
    stereo prediction weights (joint + two refinements per weight) and
    the mid-only flag (coded only when the side VAD is inactive), then
    the frame-type symbol and the gains: independent MSB (signal-class
    icdf) + 3 uniform LSBs for subframe 0, delta icdf after, all
    dequantized by the RFC rules against ``prev_ind``. 10 ms → 2
    subframes, 20 ms → 4. Stereo returns the MID channel's gains —
    the mid IS the mono mix, exactly the envelope the fingerprint
    wants; the side channel's gains sit behind the mid frame's full
    residual and stay un-walked."""
    dec = RangeDecoder(frame)
    vad = dec.dec_bit_logp(1)
    if dec.dec_bit_logp(1):  # mid LBRR
        raise NotImplementedError("SILK LBRR redundancy not walked")
    if stereo:
        side_vad = dec.dec_bit_logp(1)
        if dec.dec_bit_logp(1):  # side LBRR
            raise NotImplementedError("SILK LBRR redundancy not walked")
        dec.dec_icdf(_ICDF_STEREO_JOINT, 8)  # joint (w0, w1) index
        for _w in range(2):
            dec.dec_icdf(_ICDF_UNIFORM3, 8)  # per-weight refinement 1
            dec.dec_icdf(_ICDF_UNIFORM5, 8)  # per-weight refinement 2
        if not side_vad:
            dec.dec_icdf(_ICDF_MID_ONLY, 8)  # mid-only flag (§4.2.7.2)
    if vad:
        ftype = dec.dec_icdf(_ICDF_TYPE_VAD, 8)
        signal = 1 + (ftype >> 1)  # 1 unvoiced, 2 voiced
    else:
        dec.dec_icdf(_ICDF_TYPE_NO_VAD, 8)
        signal = 0
    n_sub = 2 if frame_ms == 10 else 4
    gains: list[float] = []
    for i in range(n_sub):
        if i == 0:
            msb = dec.dec_icdf(_ICDF_GAIN_MSB[signal], 8)
            lsb = dec.dec_icdf(_ICDF_GAIN_LSB, 8)
            prev_ind = _gain_first((msb << 3) | lsb, prev_ind)
        else:
            delta = dec.dec_icdf(_ICDF_GAIN_DELTA, 8)
            prev_ind = _gain_delta(delta, prev_ind)
        gains.append(float(_GAIN_LINEAR[prev_ind]))
    return gains, prev_ind


class CeltState:
    """Cross-packet CELT coarse-energy state: the previous frame's
    per-band log energies (oldEBands in the reference decoder, one row
    per channel, initialized to 0) that inter frames predict against
    with alpha = pred_coef[LM]."""

    __slots__ = ("old_e",)

    def __init__(self) -> None:
        self.old_e = [[0.0] * _N_BANDS, [0.0] * _N_BANDS]


def _celt_frame_energy(
    frame: bytes,
    state: CeltState,
    lm: int,
    end_band: int,
    channels: int,
) -> float:
    """Mean linear band energy of a CELT frame (§4.3), the REAL
    bitstream walk: silence; post-filter (flag budget-gated at 16
    bits: uint octave, raw end-bits for period/gain, budget-gated
    tapset icdf); transient (LM > 0 frames only); intra; then per-band
    per-channel coarse energy — Laplace-coded deltas under
    e_prob_model[LM][intra] against the two-term predictor
    (time prediction alpha*oldE zeroed for intra; the in-frame
    accumulator leaks by beta), degrading to the 2-bit zigzag icdf /
    single sign bit / implicit -1 as the frame's bit budget runs
    out — exactly the reference's unquant_coarse_energy ladder."""
    dec = RangeDecoder(frame)
    total = len(frame) * 8
    if dec.tell() >= total or dec.dec_bit_logp(15):  # silence
        return 0.0
    if dec.tell() + 16 <= total and dec.dec_bit_logp(1):  # post-filter
        octave = dec.dec_uint(6)
        dec.dec_bits(4 + octave)  # period (raw end-bits)
        dec.dec_bits(3)  # gain (raw end-bits)
        if dec.tell() + 2 <= total:
            dec.dec_icdf(_TAPSET_ICDF, 2)  # tapset
    if lm > 0 and dec.tell() + 3 <= total:
        dec.dec_bit_logp(3)  # transient
    intra = dec.dec_bit_logp(3) if dec.tell() + 3 <= total else 0
    model = _E_PROB_MODEL[lm][intra]
    coef = 0.0 if intra else _PRED_COEF[lm]
    beta = _CELT_BETA_INTRA if intra else _BETA_COEF[lm]
    prev = [0.0, 0.0]
    energies = []
    for band in range(end_band):
        chans = []
        for c in range(channels):
            tell = dec.tell()
            if total - tell >= 15:
                pi = 2 * min(band, 20)
                qi = _laplace_decode(dec, model[pi] << 7, model[pi + 1] << 6)
            elif total - tell >= 2:
                qi = dec.dec_icdf(_SMALL_ENERGY_ICDF, 2)
                qi = (qi >> 1) ^ -(qi & 1)
            elif total - tell >= 1:
                qi = -dec.dec_bit_logp(1)
            else:
                qi = -1
            old = max(-9.0, state.old_e[c][band])
            cur = coef * old + prev[c] + qi
            state.old_e[c][band] = cur
            prev[c] += qi * (1.0 - beta)
            chans.append(2.0 ** (cur / 2.0))
        # channels averaged per band FIRST: a dual-mono stereo frame
        # reduces exactly (bit-for-bit) to its mono twin's envelope
        energies.append(sum(chans) / len(chans))
    return float(np.mean(energies))


def celt_quantize_envelope(energies) -> np.ndarray:
    """The envelope ``opus_energy_envelope`` returns for
    ``encode_ogg_opus_envelope(energies, mode='celt')`` — the
    pure-arithmetic mirror of the intra-frame coarse-energy walk."""
    out: list[float] = []
    for e in np.asarray(energies, dtype=np.float64):
        if e == 0.0:
            out.append(0.0)
            continue
        target = 2.0 * np.log2(max(e, 1e-12))
        prev = 0.0
        es = []
        for _band in range(_N_BANDS):
            q = int(round(target - prev))
            cur = prev + q
            es.append(2.0 ** (cur / 2.0))
            prev = prev + q * (1.0 - _CELT_BETA_INTRA)
        out.append(float(np.mean(es)))
    return np.asarray(out, dtype=np.float64)


_FIXTURE_VENDOR = "pg2kinesis_spark fixture"


def opus_energy_envelope(data: bytes) -> np.ndarray:
    """Per-frame energy envelope of an Ogg Opus stream — the sequence
    ``audio_fingerprint`` consumes. Stereo SILK walks the mid
    (mono-mix) channel; stereo CELT averages both channels' coarse
    band energies. Surround, 40/60 ms SILK packets, LBRR redundancy,
    and non-Opus Ogg refuse (NotImplementedError) so the caller's
    quarantine channel stays honest. Since round 10 the CELT walk
    carries RFC 6716's own e_prob_model, so real-world CELT/music
    streams decode their true coarse-energy envelope — no fixture
    marker required."""
    packets = ogg_packets(data)
    if not packets or not packets[0].startswith(b"OpusHead"):
        raise NotImplementedError("not an Ogg Opus stream")
    head = packets[0]
    if len(head) < 10:
        raise ValueError("truncated OpusHead")
    channels = head[9]
    if channels not in (1, 2):
        raise NotImplementedError(
            f"Opus envelope: {channels}-channel (surround) streams"
        )
    return opus_packets_energy(
        p for p in packets[1:] if not p.startswith(b"OpusTags")
    )


def opus_packets_energy(packets) -> np.ndarray:
    """The per-packet energy walk shared by the Ogg and WebM fronts:
    each packet contributes its SILK subframe gains (real RFC tables,
    LastGainIndex threaded across packets like the real decoder) or
    its CELT coarse band energies (real e_prob_model since round 10,
    oldEBands threaded across packets; stereo CELT interleaves the
    two channels per band and the envelope averages them)."""
    env: list[float] = []
    prev_ind = _GAIN_RESET_IND
    celt_state = CeltState()
    for pkt in packets:
        config, stereo, frames = opus_packet_frames(pkt)
        ms = _FRAME_MS[config]
        if config < 12 and ms not in (10, 20):
            raise NotImplementedError(
                f"{ms} ms SILK packets hold multiple interleaved SILK "
                "frames in one entropy stream (full SILK decode tier)"
            )
        for fr in frames:
            if not fr:
                continue  # DTX
            if config < 16:
                gains, prev_ind = _silk_frame_gains(
                    fr, int(ms), stereo=stereo, prev_ind=prev_ind
                )
                env.extend(gains)
            else:
                env.append(
                    _celt_frame_energy(
                        fr,
                        celt_state,
                        lm=config & 3,
                        end_band=_CELT_END_BAND[(config - 16) >> 2],
                        channels=2 if stereo else 1,
                    )
                )
    return np.asarray(env, dtype=np.float64)


# --- Ogg packet reassembly ---------------------------------------------------


def ogg_packets(data: bytes, serial: int | None = None) -> list[bytes]:
    """Reassemble the logical packets of ONE Ogg stream from the page
    lacing values, handling 255-continuation within and across pages.
    ``serial=None`` follows the FIRST stream whose BOS page opens with
    an audio magic (OpusHead / \\x01vorbis / \\x7fFLAC), falling back to the first
    stream — so multiplexed files (e.g. Theora+Vorbis) feed the audio
    walk the audio stream's packets instead of an interleaved garble;
    pass an explicit ``serial`` to pick a stream. Pages of other
    serials are skipped structurally (their lacing still walks, so a
    hostile interleave can't smuggle bytes). CRC is checked by the
    caller's page walk (ogg_info); this walk re-checks structure
    only."""
    data = bytes(data)
    n = len(data)

    def pages():
        pos = 0
        while pos + 27 <= n:
            if data[pos : pos + 4] != b"OggS":
                return
            nsegs = data[pos + 26]
            seg_table = data[pos + 27 : pos + 27 + nsegs]
            if len(seg_table) < nsegs:
                raise ValueError("truncated Ogg segment table")
            body = pos + 27 + nsegs
            size = sum(seg_table)
            if body + size > n:
                raise ValueError("Ogg lacing overruns file")
            yield (
                data[pos + 5],
                struct.unpack_from("<I", data, pos + 14)[0],
                seg_table,
                body,
            )
            pos = body + size

    want = serial
    if want is None:  # header-only pre-scan: first audio BOS, else first page
        first_serial = None
        for header_type, page_serial, _segs, body in pages():
            if first_serial is None:
                first_serial = page_serial
            if header_type & 0x02:
                head = data[body : body + 8]
                if (
                    head.startswith(b"OpusHead")
                    or head.startswith(b"\x01vorbis")
                    or head.startswith(b"\x7fFLAC")
                ):
                    want = page_serial
                    break
        if want is None:
            want = first_serial
    packets: list[bytes] = []
    cur = bytearray()
    for _ht, page_serial, seg_table, body in pages():
        if page_serial != want:
            continue
        at = body
        for s in seg_table:
            cur += data[at : at + s]
            at += s
            if s < 255:
                packets.append(bytes(cur))
                cur = bytearray()
    if cur:
        packets.append(bytes(cur))  # unterminated final packet
    return packets


# --- fixture encoder ---------------------------------------------------------


def opus_envelope_packets(
    energies, mode: str = "silk", frame_ms: int = 20, stereo: bool = False
) -> list[bytes]:
    """Raw Opus packets (code 0, one frame each) carrying the quantized
    envelope — the packet builder shared by the Ogg and WebM fixture
    fronts. The SILK packets are REAL-table streams (any conformant
    Opus front-end decoder reads the same gains); the gain planning
    threads LastGainIndex exactly like the decoder, so
    ``silk_quantize_envelope`` is the byte-independent truth.
    ``stereo=True`` writes real stereo frames: for SILK, both
    channels' VAD/LBRR flags, the five stereo-weight symbols, the
    mid-only flag (set — the fixture carries no side channel), then
    the mid frame holding the envelope in its gains; for CELT, the
    two channels' coarse energies interleaved per band (both carrying
    the same envelope)."""
    env = np.asarray(energies, dtype=np.float64)
    if (env < 0).any():
        raise ValueError("energies must be non-negative")
    if frame_ms not in (10, 20):
        raise ValueError("frame_ms must be 10 or 20")
    pkts: list[bytes] = []
    prev_ind = _GAIN_RESET_IND
    for e in env:
        if mode == "silk":
            config = 9 if frame_ms == 20 else 8  # WB SILK
            toc = bytes([(config << 3) | (4 if stereo else 0)])  # code 0
            if e == 0.0:
                pkts.append(toc)  # DTX
                continue
            enc = RangeEncoder()
            enc.enc_bit_logp(1, 1)  # mid VAD active
            enc.enc_bit_logp(0, 1)  # no mid LBRR
            if stereo:
                enc.enc_bit_logp(0, 1)  # side VAD inactive
                enc.enc_bit_logp(0, 1)  # no side LBRR
                enc.enc_icdf(12, _ICDF_STEREO_JOINT, 8)  # centered weights
                for _w in range(2):
                    enc.enc_icdf(1, _ICDF_UNIFORM3, 8)
                    enc.enc_icdf(2, _ICDF_UNIFORM5, 8)
                enc.enc_icdf(1, _ICDF_MID_ONLY, 8)  # mid-only (side VAD off)
            enc.enc_icdf(2, _ICDF_TYPE_VAD, 8)  # voiced, low offset
            n_sub = 2 if frame_ms == 10 else 4
            target = _quantize_gain_index(e)
            ind0, deltas, _realized, prev_ind = _plan_silk_gains(
                target, prev_ind, n_sub
            )
            enc.enc_icdf(ind0 >> 3, _ICDF_GAIN_MSB[2], 8)
            enc.enc_icdf(ind0 & 7, _ICDF_GAIN_LSB, 8)
            for d in deltas:
                enc.enc_icdf(d, _ICDF_GAIN_DELTA, 8)
            pkts.append(toc + enc.done())
        elif mode == "celt":
            lm = 2 if frame_ms == 10 else 3
            config = 28 + lm  # FB CELT (21 bands) 10/20 ms
            toc = bytes([(config << 3) | (4 if stereo else 0)])
            enc = RangeEncoder()
            if e == 0.0:
                enc.enc_bit_logp(1, 15)  # silence
                pkts.append(toc + enc.done())
                continue
            enc.enc_bit_logp(0, 15)
            enc.enc_bit_logp(0, 1)  # no post-filter
            enc.enc_bit_logp(0, 3)  # not transient (LM > 0, so coded)
            enc.enc_bit_logp(1, 3)  # intra
            target = 2.0 * np.log2(max(e, 1e-12))
            prevs = [0.0, 0.0]
            for band in range(_N_BANDS):
                fs, decay = _celt_prob(band, 1, lm)
                for c in range(2 if stereo else 1):
                    q = int(round(target - prevs[c]))
                    q = _laplace_encode(enc, q, fs, decay)
                    prevs[c] = prevs[c] + q * (1.0 - _CELT_BETA_INTRA)
            pkts.append(toc + enc.done())
        else:
            raise ValueError(mode)
    return pkts


def webm_opus_energy_envelope(data: bytes) -> np.ndarray:
    """Per-frame energy envelope of Opus inside WebM/Matroska — the
    same per-packet walk as the Ogg front, with packets lifted from
    the Cluster SimpleBlocks/Blocks of the first A_OPUS audio track
    (the shared ``codecs.webm_audio_packets`` walk; laced audio
    refuses). An Ogg Opus stream and its WebM remux fingerprint
    IDENTICALLY. Video-bearing files stay on the video tier; surround
    and non-Opus audio refuse."""
    from pg2kinesis_spark.functions import codecs as C

    data = bytes(data)
    if not C.is_webm(data):
        raise ValueError("not Matroska/WebM: bad EBML magic")
    info = C.webm_info(data)
    if info["n_video_tracks"]:
        raise NotImplementedError("WebM with video tracks stays on the video tier")
    if info["audio_codec"] != "A_OPUS":
        raise NotImplementedError(
            f"WebM audio envelope covers A_OPUS ({info['audio_codec']!r})"
        )
    if (info["n_channels"] or 1) not in (1, 2):
        raise NotImplementedError(
            "Opus envelope: surround (3+ channel) WebM streams"
        )
    _codec, _priv, packets, _writing_app = C.webm_audio_packets(data)
    if not packets:
        raise ValueError("WebM Opus track with no blocks")
    return opus_packets_energy(packets)


_MKV_WRITINGAPP = 0x5741


def encode_webm_opus_envelope(
    energies,
    mode: str = "silk",
    frame_ms: int = 20,
    blocks_per_cluster: int = 20,
) -> bytes:
    """Audio-only WebM fixture carrying the SAME Opus packets the Ogg
    fixture would — the remux twin for the cross-container identity
    test, and the independent construction side of
    ``webm_opus_energy_envelope``. Still writes the fixture vendor
    string into WritingApp — provenance only since round 10 (the CELT
    gate it used to feed is retired)."""
    from pg2kinesis_spark.functions import codecs as C

    pkts = opus_envelope_packets(energies, mode, frame_ms)
    ebml_hdr = C._EBML_MAGIC + C._ebml_encode_size(0)
    dur_ticks = frame_ms * len(pkts)  # 1 ms ticks at the default scale
    info = C._ebml_elem(
        C._MKV_INFO,
        C._ebml_elem(C._MKV_TIMECODESCALE, (1_000_000).to_bytes(4, "big"))
        + C._ebml_elem(C._MKV_DURATION, struct.pack(">d", float(dur_ticks)))
        + C._ebml_elem(_MKV_WRITINGAPP, _FIXTURE_VENDOR.encode("utf-8")),
    )
    audio_entry = C._ebml_elem(
        C._MKV_TRACKENTRY,
        C._ebml_elem(C._MKV_TRACKTYPE, b"\x02")
        + C._ebml_elem(C._MKV_TRACKNUMBER, b"\x01")
        + C._ebml_elem(C._MKV_CODECID, b"A_OPUS")
        + C._ebml_elem(
            C._MKV_AUDIO,
            C._ebml_elem(C._MKV_SAMPLINGFREQ, struct.pack(">f", 48000.0))
            + C._ebml_elem(C._MKV_CHANNELS, b"\x01"),
        ),
    )
    tracks = C._ebml_elem(C._MKV_TRACKS, audio_entry)
    clusters = b""
    for i in range(0, len(pkts), blocks_per_cluster):
        chunk = pkts[i : i + blocks_per_cluster]
        base_tc = i * frame_ms
        payload = C._ebml_elem(C._MKV_CLUSTERTC, base_tc.to_bytes(4, "big"))
        for j, pkt in enumerate(chunk):
            blk = bytes([0x81]) + struct.pack(">h", j * frame_ms) + b"\x80" + pkt
            payload += C._ebml_elem(C._MKV_SIMPLEBLOCK, blk)
        clusters += C._ebml_elem(C._MKV_CLUSTER, payload)
    segment = C._ebml_elem(C._MKV_SEGMENT, info + tracks + clusters)
    return ebml_hdr + segment


def encode_ogg_opus_envelope(
    energies,
    mode: str = "silk",
    frame_ms: int = 20,
    tags: dict[str, str] | None = None,
    serial: int = 7,
    stereo: bool = False,
) -> bytes:
    """Ogg Opus fixture whose per-frame decoded envelope equals
    ``silk_quantize_envelope(energies)`` / ``celt_quantize_envelope``
    — the independent construction side of ``opus_energy_envelope``
    (the MP3 ``encode_mp3_layer3_envelope`` precedent). ``mode='silk'``
    writes one mono 20 ms (or 10 ms) REAL-table SILK frame per packet
    carrying the energy in its subframe gains; ``'celt'`` writes real
    e_prob_model fullband CELT frames carrying it in the coarse band
    energies (any conformant Opus front-end decoder reads the same
    values since round 10). Zero energy becomes a DTX (empty) packet
    in silk mode and the silence flag in celt mode."""
    from pg2kinesis_spark.functions import codecs as C

    rate = 48000
    spf = 48 * frame_ms
    pkts = opus_envelope_packets(energies, mode, frame_ms, stereo=stereo)

    def page(granule, seq, payload, header_type=0):
        segs = []
        rest = len(payload)
        while rest >= 255:
            segs.append(255)
            rest -= 255
        segs.append(rest)
        hdr = (
            b"OggS" + bytes([0, header_type])
            + struct.pack("<q", granule)
            + struct.pack("<II", serial, seq)
            + bytes(4)
            + bytes([len(segs)]) + bytes(segs)
        )
        raw = bytearray(hdr + payload)
        raw[22:26] = struct.pack("<I", C._ogg_page_crc(bytes(raw)))
        return bytes(raw)

    head = (
        b"OpusHead" + bytes([1, 2 if stereo else 1]) + struct.pack("<H", 0)
        + struct.pack("<I", rate) + bytes(3)
    )
    out = page(-1, 0, head, header_type=2)
    seq = 1
    out += page(
        -1, seq, b"OpusTags" + C.encode_vorbis_comment(tags or {})
    )
    seq += 1
    granule = 0
    for i, p in enumerate(pkts):
        granule += spf
        last = i == len(pkts) - 1
        out += page(granule, seq, p, header_type=4 if last else 0)
        seq += 1
    return out
