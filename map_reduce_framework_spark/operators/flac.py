"""FLAC audio codec (dependency-free, 16-bit): constant /
verbatim / fixed-predictor subframes with Rice-coded residuals -- the
subframe set that carries the overwhelming majority of real FLAC
streams (VERDICT r10 ask #4) -- plus LPC subframes (order 1-32,
quantized signed coefficients, arithmetic-shift prediction) and
STEREO (2-8 independent channels and the three decorrelation modes:
left/side, right/side, mid/side, with 17-bit side subframes), both
added later in round 11, so the full practical stream shape decodes.
The remaining honest boundary is reserved subframe types (2-7,
13-31) and non-16-bit sample depths, counted per source by the media
boundary report (the arithmetic-JPEG discipline).

Format per the public FLAC specification (now RFC 9639):

* ``fLaC`` magic, metadata blocks (1-byte last/type, 24-bit length);
  STREAMINFO (type 0) carries blocksize/framesize bounds, 20-bit
  sample rate, channels-1, bits-per-sample-1, 36-bit total samples,
  and the MD5 of the unencoded little-endian sample bytes -- which
  this decoder VERIFIES when present (a torn stream cannot round-trip
  silently).
* Frames: 14-bit sync + fixed-blocksize strategy, 4-bit blocksize /
  sample-rate codes, channel assignment, UTF-8-coded frame number,
  CRC-8 (poly 0x07) over the header and CRC-16 (poly 0x8005) over the
  whole frame -- both verified on decode.
* Subframes: CONSTANT (one value), VERBATIM (raw samples), FIXED
  orders 0-4 (polynomial predictors, warmup + residual); residuals in
  4-bit Rice partitions (method 0) or 5-bit (method 1), zigzag
  mapping u = 2v / -2v-1, unary quotient = q zeros then a 1, escape
  partitions as raw n-bit two's complement.

The encoder emits fixed-blocksize frames (explicit 16-bit blocksize),
picking per-subframe the cheapest of constant / fixed-order-0..2 with
a size-optimal single-partition Rice parameter -- deterministic, so
the registered oracle (md5 token math, knowing nothing of FLAC)
certifies the full encode -> decode loop in the sweep exactly like
the WAV path.
"""

from __future__ import annotations

import hashlib

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

#: 4-bit sample-rate codes (0 = STREAMINFO, 12/13/14 = explicit field
#: follows, 15 invalid). The encoder uses the inverse map for the
#: dedicated rates and falls back to 13 (16-bit Hz) / 14 (16-bit
#: Hz x 10) for the rest -- every rate its own decoder accepts is
#: encodable (review finding r11: the old `13 or bust` rule overflowed
#: two bytes for 96 kHz even though code 11 exists for it).
_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_RATE_TO_CODE = {v: k for k, v in _RATE_CODES.items()}


def _rate_code(sample_rate: int):
    """(code, trailing bytes) for a sample rate; raises ValueError for
    rates no 4-bit code or explicit field can carry."""
    code = _RATE_TO_CODE.get(sample_rate)
    if code is not None:
        return code, b""
    if 0 < sample_rate < 1 << 16:
        return 13, sample_rate.to_bytes(2, "big")
    if sample_rate % 10 == 0 and 0 < sample_rate // 10 < 1 << 16:
        return 14, (sample_rate // 10).to_bytes(2, "big")
    raise ValueError(f"sample rate {sample_rate} not representable")


def _make_crc8_table() -> list[int]:
    table = []
    for b in range(256):
        crc = b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        table.append(crc)
    return table


def _make_crc16_table() -> list[int]:
    table = []
    for b in range(256):
        crc = b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
        table.append(crc)
    return table


#: 256-entry tables for the FLAC frame CRCs (polys 0x07 / 0x8005, init 0,
#: no reflection) -- one table lookup per byte instead of the 8-step
#: bit loop; byte-equal by construction (the tables are generated by the
#: bit loop itself).
_CRC8_TABLE = _make_crc8_table()
_CRC16_TABLE = _make_crc16_table()


def _crc8(data) -> int:
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def _crc16(data) -> int:
    crc = 0
    table = _CRC16_TABLE
    for b in data:
        crc = table[(crc >> 8) ^ b] ^ ((crc & 0xFF) << 8)
    return crc


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index): an m-byte
    sequence carries 6*(m-1) + (7-m) payload bits."""
    if n < 0x80:
        return bytes([n])
    bits = n.bit_length()
    nbytes = next(m for m in range(2, 8) if bits <= 6 * (m - 1) + (7 - m))
    out = [0] * nbytes
    for i in range(nbytes - 1, 0, -1):
        out[i] = 0x80 | (n & 0x3F)
        n >>= 6
    out[0] = ((0xFF << (8 - nbytes)) & 0xFF) | n
    return bytes(out)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        # multi-bit accumulator: one shift/or per FIELD (Python ints are
        # arbitrary width, so a 36-bit or 4096-bit unary write is still
        # one op), bytes drained in bulk -- bit-identical output to the
        # old per-bit loop by construction (same MSB-first order).
        acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        nb = self.nbits + nbits
        if nb >= 8:
            rem = nb & 7
            self.out += (acc >> rem).to_bytes((nb - rem) >> 3, "big")
            acc &= (1 << rem) - 1
            nb = rem
        self.acc = acc
        self.nbits = nb

    def write_unary(self, q: int) -> None:
        self.write(1, q + 1)  # q zeros then a 1

    def write_bits(self, bits) -> None:
        """Append a numpy 0/1 uint8 bit array (MSB-first stream order)."""
        import numpy as np

        nbits = int(len(bits))
        if not nbits:
            return
        # pack to one big int; leading zero bits are preserved because
        # write() is told the exact bit count
        nbytes = (nbits + 7) >> 3
        padded = np.zeros(nbytes * 8, dtype=np.uint8)
        padded[:nbits] = bits
        value = int.from_bytes(np.packbits(padded).tobytes(), "big") >> (
            nbytes * 8 - nbits
        )
        self.write(value, nbits)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


class _BitReader:
    def __init__(self, data, pos: int, unpacked=None) -> None:
        self.data = data
        self.pos = pos
        self.bit = 0
        #: optional (bits, ones) numpy views of ``data`` -- 0/1 uint8
        #: array of every bit (MSB-first) and the sorted positions of
        #: the 1-bits -- shared across frames by _decode_flac so the
        #: vectorized bulk reads below never unpack the payload twice.
        self._unpacked = unpacked

    def _bitpos(self) -> int:
        return self.pos * 8 + self.bit

    def _seek(self, bitpos: int) -> None:
        self.pos = bitpos >> 3
        self.bit = bitpos & 7

    def _ensure_unpacked(self):
        if self._unpacked is None:
            self._unpacked = _unpack_payload(self.data)
        return self._unpacked

    def read_fixed_vec(self, count: int, width: int):
        """``count`` unsigned ``width``-bit fields as one int64 array
        (None on truncation) -- the bulk twin of count x read(width)."""
        import numpy as np

        if count <= 0:
            return np.zeros(0, dtype=np.int64)
        bp = self._bitpos()
        end = bp + count * width
        if end > len(self.data) * 8:
            return None
        bits, _ones = self._ensure_unpacked()
        seg = bits[bp:end].astype(np.int64).reshape(count, width)
        vals = np.zeros(count, dtype=np.int64)
        for j in range(width):
            vals = (vals << 1) | seg[:, j]
        self._seek(end)
        return vals

    def read_rice_vec(self, count: int, p: int):
        """``count`` Rice(p) codes as one unzigzagged int64 array (None
        on truncation or the unary bomb guard) -- the bulk twin of
        count x (read_unary, read(p), _unzigzag). Terminator positions
        are found by a vectorized pointer-doubling chase over a window
        of the payload's 1-bit index (the windowed table is cheaper to
        build per call than a payload-global table is to build once)."""
        import numpy as np

        if count <= 0:
            return np.zeros(0, dtype=np.int64)
        bits, ones = self._ensure_unpacked()
        m = len(ones)
        bp = self._bitpos()
        start_idx = int(np.searchsorted(ones, bp))
        if start_idx >= m:
            return None
        # Window the chase to the chain's provable reach: each code
        # advances the one-index by at most p+1 (the p remainder bits
        # hold at most p ones), so count codes from start_idx stay
        # within (count-1)*(p+1) indices. Building the successor table
        # and squaring it only over that window keeps the per-subframe
        # cost ~O(count*p*log(count)) instead of O(m*log count) over
        # the whole payload's 1-bits (which made multi-frame decode
        # quadratic in stream length). Entries whose true successor
        # lies beyond the window are clamped to the absorbing sentinel
        # L; the genuine chain never visits such an entry unless the
        # stream is truncated (successor index m), which is exactly
        # the None case.
        lo = start_idx
        hi = min(lo + (count - 1) * (p + 1) + 1, m)
        L = hi - lo
        # successor of window 1-bit i: first one >= ones[i] + 1 + p
        jump = np.minimum(
            np.searchsorted(ones, ones[lo:hi] + 1 + p) - lo, L
        ).astype(np.int64)
        jump = np.append(jump, L)  # absorbing "out of 1-bits" sentinel
        seq = np.empty(count, dtype=np.int64)
        seq[0] = 0
        filled = 1
        while filled < count:
            take = min(filled, count - filled)
            seq[filled : filled + take] = jump[seq[:take]]
            filled += take
            if filled < count:
                jump = jump[jump]  # double the step
        if int(seq[-1]) >= L:
            return None  # ran out of 1-bits: truncated stream
        t = ones[seq + lo]
        q = np.empty(count, dtype=np.int64)
        q[0] = int(t[0]) - bp
        if count > 1:
            q[1:] = t[1:] - t[:-1] - (1 + p)
        if int(q.max()) > 1 << 20:
            return None  # bomb guard: runaway unary (read_unary parity)
        end = int(t[-1]) + 1 + p
        if end > len(bits):
            return None  # last code's remainder is truncated
        u = q << p
        if p:
            rem = np.zeros(count, dtype=np.int64)
            for j in range(p):
                rem = (rem << 1) | bits[t + 1 + j]
            u |= rem
        self._seek(end)
        return (u >> 1) ^ -(u & 1)  # vectorized _unzigzag

    def read(self, nbits: int):
        # byte-batched: one int.from_bytes per FIELD instead of a
        # per-bit loop; None (like the old loop) when the field runs
        # past the buffer. Caller state after a failed read is
        # unspecified -- every caller treats None as fatal.
        if nbits <= 0:
            return 0
        data = self.data
        end_bits = self.pos * 8 + self.bit + nbits
        if end_bits > len(data) * 8:
            return None
        last_byte = (end_bits + 7) >> 3
        window = int.from_bytes(bytes(data[self.pos : last_byte]), "big")
        v = (window >> ((last_byte - self.pos) * 8 - self.bit - nbits)) & (
            (1 << nbits) - 1
        )
        self.pos = end_bits >> 3
        self.bit = end_bits & 7
        return v

    def read_unary(self):
        # byte-batched: skip whole 0x00 bytes, then bit_length() finds
        # the leading 1 -- same values and same bomb guard as the old
        # per-bit loop.
        data = self.data
        n = len(data)
        pos, bit = self.pos, self.bit
        q = 0
        guard = (1 << 20) + 1
        while pos < n:
            cur = data[pos] & (0xFF >> bit)  # mask bits already consumed
            if cur:
                hi = 7 - (cur.bit_length() - 1)  # bit index of leading 1
                q += hi - bit
                if q > 1 << 20:
                    return None  # bomb guard: runaway unary
                if hi == 7:
                    self.pos, self.bit = pos + 1, 0
                else:
                    self.pos, self.bit = pos, hi + 1
                return q
            q += 8 - bit
            if q > guard:
                return None  # bomb guard: runaway unary
            pos += 1
            bit = 0
        return None

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


def _unpack_payload(data):
    """(bits, ones) for a payload: 0/1 uint8 array of every bit in
    stream order and the sorted positions of the 1-bits."""
    import numpy as np

    arr = np.frombuffer(bytes(data), dtype=np.uint8)
    bits = np.unpackbits(arr)
    return bits, np.flatnonzero(bits).astype(np.int64)


class _NeedExact(Exception):
    """Vectorized reconstruction would overflow int64 -- the frame must
    re-decode through the exact arbitrary-precision scalar path."""


#: int64-safety gate for the vectorized cumsum reconstruction: every
#: intermediate stays strictly below this, leaving headroom for the
#: stereo recombination's << 1 and +/-.
_RECON_BOUND = 1 << 60


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else ((-v << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if not (u & 1) else -((u + 1) >> 1)


def _residuals(samples, order: int):
    """Residual vector of the fixed predictor as a numpy int64 array
    (``samples`` is int64, values int16-range so no overflow)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    coefs = _FIXED_COEFS[order]
    res = x[order:].copy()
    for j, c in enumerate(coefs):
        res -= c * x[order - 1 - j : len(x) - 1 - j]
    return res


def _zigzag_vec(res):
    """Vectorized zigzag: (v << 1) ^ (v >> 63) == the scalar _zigzag."""
    import numpy as np

    v = np.asarray(res, dtype=np.int64)
    return (v << 1) ^ (v >> 63)


def _best_rice_param(res) -> int:
    """Same size-optimal single-partition Rice parameter as the old
    scalar scan (same loop, same early break), with the per-p cost as
    one vector sum."""
    u = _zigzag_vec(res)
    n = len(u)
    best_p, best_cost = 0, None
    for p in range(15):
        cost = int((u >> p).sum()) + (1 + p) * n
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
        if best_cost is not None and cost > best_cost * 4:
            break
    return best_p


def _rice_cost(u, p: int) -> int:
    return int((u >> p).sum()) + (1 + p) * len(u)


def _rice_bits(u, p: int):
    """The exact bit stream of Rice-coding each zigzagged value in
    ``u`` with parameter ``p``: (u>>p) zeros, a 1, then the p low bits
    -- as a numpy 0/1 array, built with p+1 vector passes instead of a
    per-value write loop."""
    import numpy as np

    u = np.asarray(u, dtype=np.int64)
    q = u >> p
    lens = q + (1 + p)
    offs = np.cumsum(lens) - lens  # start offset of each code
    total = int(lens.sum()) if len(lens) else 0
    bits = np.zeros(total, dtype=np.uint8)
    term = offs + q
    bits[term] = 1
    for j in range(p):
        bits[term + 1 + j] = ((u >> (p - 1 - j)) & 1).astype(np.uint8)
    return bits


def _fixed_width_bits(vals, width: int):
    """MSB-first fixed-width bit stream of the (already masked,
    non-negative) values -- ``width`` vector passes."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64)
    bits = np.empty(len(v) * width, dtype=np.uint8)
    for j in range(width):
        bits[j::width] = ((v >> (width - 1 - j)) & 1).astype(np.uint8)
    return bits


def encode_flac(
    samples, sample_rate: int = 8000, *, mode: str | None = None
) -> bytes:
    """Mono 16-bit FLAC writer: fixed-blocksize frames (<= 4096
    samples each, explicit 16-bit blocksize code), per-frame the
    cheapest of CONSTANT / FIXED order 0-2 with a size-optimal
    single-partition Rice parameter; ``mode="lpc"`` instead forces
    every subframe through the LPC wire format (_LPC_COEFS at
    _LPC_SHIFT -- numerically the order-2 fixed predictor, carried
    through precision/shift/signed-coefficient fields so the LPC
    decode machinery round-trips for real). STREAMINFO carries the
    real MD5 of the little-endian sample bytes, so the decoder's
    verification is meaningful."""
    import numpy as np

    arr16 = np.asarray(samples, dtype="<i2")
    samples = arr16.astype(np.int64)
    n = len(samples)
    block = 4096
    md5 = hashlib.md5(arr16.tobytes()).digest()
    # STREAMINFO (34 bytes)
    w = _BitWriter()
    bs_min = min(block, n) if n else block
    w.write(max(bs_min, 16), 16)  # min blocksize (spec floor 16)
    w.write(max(min(block, n) if n else block, 16), 16)
    w.write(0, 24)  # min framesize unknown
    w.write(0, 24)  # max framesize unknown
    w.write(sample_rate, 20)
    w.write(0, 3)  # channels - 1 (mono)
    w.write(15, 5)  # bits per sample - 1
    w.write(n, 36)
    info = w.bytes() + md5
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info  # last block

    frame_idx = 0
    pos = 0
    while pos < n:
        bs = min(block, n - pos)
        chunk = samples[pos : pos + bs]
        hdr = bytearray(b"\xff\xf8")
        sr_code, sr_bytes = _rate_code(sample_rate)
        hdr.append((0x07 << 4) | sr_code)  # blocksize code 7: 16-bit
        hdr.append((0x00 << 4) | (0x04 << 1))  # mono, 16 bps
        hdr += _utf8_number(frame_idx)
        hdr += (bs - 1).to_bytes(2, "big")
        hdr += sr_bytes
        hdr.append(_crc8(hdr))
        body = _BitWriter()
        _encode_subframe(body, chunk, mode)
        body.align()
        frame = bytes(hdr) + body.bytes()
        frame += _crc16(frame).to_bytes(2, "big")
        out += frame
        pos += bs
        frame_idx += 1
    return bytes(out)


#: The LPC configuration the ``mode="lpc"`` encoder emits: order-2
#: quantized coefficients [2.0, -1.0] at shift 5 ([64, -32], 8-bit
#: precision) -- numerically the order-2 fixed predictor, but carried
#: through the FULL LPC wire format (precision/shift/signed-coef
#: fields), so the round trip exercises exactly the machinery a real
#: encoder's Levinson-Durbin output rides.
_LPC_COEFS = [64, -32]
_LPC_SHIFT = 5
_LPC_PRECISION = 8


def _encode_subframe(
    w: _BitWriter, chunk, mode: str | None = None, bps: int = 16
) -> None:
    import numpy as np

    x = np.asarray(chunk, dtype=np.int64)
    bs = len(x)
    mask = (1 << bps) - 1
    if mode == "lpc" and bs > len(_LPC_COEFS):
        order = len(_LPC_COEFS)
        pred = np.zeros(bs - order, dtype=np.int64)
        for j, c in enumerate(_LPC_COEFS):
            pred += c * x[order - 1 - j : bs - 1 - j]
        res = x[order:] - (pred >> _LPC_SHIFT)
        u = _zigzag_vec(res)
        p = _best_rice_param(res)
        w.write(0, 1)
        w.write(0b100000 | (order - 1), 6)  # LPC, order
        w.write(0, 1)  # no wasted bits
        w.write_bits(_fixed_width_bits(x[:order] & mask, bps))  # warmup
        w.write(_LPC_PRECISION - 1, 4)
        w.write(_LPC_SHIFT, 5)
        for c in _LPC_COEFS:
            w.write(c & ((1 << _LPC_PRECISION) - 1), _LPC_PRECISION)
        w.write(0, 2)  # residual method 0
        w.write(0, 4)  # partition order 0
        w.write(p, 4)
        w.write_bits(_rice_bits(u, p))
        return
    if bs and bool((x == x[0]).all()):
        w.write(0, 1)  # padding
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)  # no wasted bits
        w.write(int(x[0]) & mask, bps)
        return
    # pick the cheapest fixed order 0..2 (order must be < blocksize)
    best = None
    for order in range(0, min(3, bs)):
        res = _residuals(x, order)
        p = _best_rice_param(res)
        cost = order * bps + _rice_cost(_zigzag_vec(res), p)
        if best is None or cost < best[3]:
            best = (order, res, p, cost)
    order, res, p, cost = best
    if cost >= bs * bps:  # verbatim is smaller: raw samples
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        w.write_bits(_fixed_width_bits(x & mask, bps))
        return
    w.write(0, 1)
    w.write(0b001000 | order, 6)  # FIXED, order
    w.write(0, 1)
    if order:
        w.write_bits(_fixed_width_bits(x[:order] & mask, bps))  # warmup
    w.write(0, 2)  # residual method 0: 4-bit Rice
    w.write(0, 4)  # partition order 0: one partition
    w.write(p, 4)
    w.write_bits(_rice_bits(_zigzag_vec(res), p))


def decode_flac(payload):
    """16-bit FLAC decode: (channel-0 samples as int16 numpy array,
    rate, n_channels) -- decode_wav's exact contract. Handles mono,
    2-8 independent channels, and the three stereo decorrelation
    modes (left/side, right/side, mid/side; side subframes carry 17
    bits). None for anything outside the supported set -- not FLAC,
    non-16-bit, reserved subframe types, reserved residual methods,
    CRC mismatch, or STREAMINFO-MD5 mismatch (verified over the
    channel-interleaved bytes). TOTAL over arbitrary bytes."""
    try:
        return _decode_flac(payload)
    except (IndexError, ValueError, TypeError, OverflowError):
        # OverflowError backstop (ADVICE r11 #1): a crafted valid-CRC
        # stream (LPC shift 0, huge coefficients) can push reconstructed
        # Python-int samples past int64 before the range gate runs.
        return None


def _decode_flac(payload):
    import numpy as np

    n = len(payload)
    if n < 8 or bytes(payload[:4]) != b"fLaC":
        return None
    pos = 4
    info = None
    while pos + 4 <= n:
        hdr = payload[pos]
        blen = int.from_bytes(bytes(payload[pos + 1 : pos + 4]), "big")
        body_start = pos + 4
        if body_start + blen > n:
            return None
        if hdr & 0x7F == 0:  # STREAMINFO
            info = bytes(payload[body_start : body_start + blen])
            if len(info) < 34:
                return None
        pos = body_start + blen
        if hdr & 0x80:
            break
    if info is None:
        return None
    r = _BitReader(info, 0)
    r.read(16)
    r.read(16)
    r.read(24)
    r.read(24)
    rate = r.read(20)
    channels = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5 = info[18:34]
    if channels < 1 or channels > 8 or bps != 16 or rate <= 0:
        return None  # the 16-bit boundary, like decode_wav
    chans: list = [[] for _ in range(channels)]
    # The unpacked bit view depends only on the payload bytes, so it is
    # computed ONCE and shared by every frame (ADVICE r13 #1: without
    # this, each frame re-ran np.unpackbits over the whole payload,
    # making multi-frame decode quadratic in stream length).
    unpacked = (
        _unpack_payload(payload) if total and pos + 2 <= n else None
    )
    while pos + 2 <= n and len(chans[0]) < total:
        got = _decode_frame(
            payload,
            pos,
            rate,
            total - len(chans[0]),
            channels,
            unpacked=unpacked,
        )
        if got is None:
            return None
        frame_chans, pos = got
        for i in range(channels):
            chans[i].extend(frame_chans[i])
    if len(chans[0]) != total:
        return None
    # Range gate (ADVICE r11 #1): reconstructed samples are unbounded
    # Python ints (invalid LPC/stereo streams overflow 16 bits); int16
    # conversion would silently wrap (numpy<2) or raise (numpy>=2), so
    # reject out-of-range streams as invalid rather than decode wrong.
    for ch in chans:
        if ch and (min(ch) < -32768 or max(ch) > 32767):
            return None
    pcm = np.asarray(chans, dtype="<i2")  # (channels, total)
    if md5 != b"\x00" * 16:
        # STREAMINFO MD5 covers the channel-INTERLEAVED LE sample bytes
        interleaved = pcm.T.reshape(-1)
        if hashlib.md5(interleaved.tobytes()).digest() != md5:
            return None  # stream lies about its own audio: reject
    return pcm[0].copy(), rate, channels


def _walk_frame_header(payload, pos: int, info_rate: int):
    """The ONE frame-header walk (review finding r11: this arithmetic
    existed twice): returns (bs, rate, chan, size_code, crc_off,
    subframe_off) without judging CRC or channel support -- the strict
    decoder layers those checks on top, the classifier reads offsets
    only. Raises ValueError on sync/structure violations."""
    n = len(payload)
    if pos + 5 > n:
        raise ValueError("truncated frame header")
    if payload[pos] != 0xFF or payload[pos + 1] != 0xF8:
        # Exact 0xF8: 6 sync bits 111110 + reserved 0 + strategy 0.
        # The variable-blocksize strategy bit (0xF9) is rejected here
        # (ADVICE r11 #3): under it the coded number is a SAMPLE number,
        # not a frame index, and this decoder implements fixed-blocksize
        # semantics only -- accepting it would misread headers.
        raise ValueError("bad sync (fixed-blocksize strategy only)")
    hdr_start = pos
    bs_code = payload[pos + 2] >> 4
    sr_code = payload[pos + 2] & 0x0F
    chan = payload[pos + 3] >> 4
    size_code = (payload[pos + 3] >> 1) & 0x07
    pos += 4
    first = payload[pos]  # UTF-8 coded frame number
    pos += 1
    if first & 0x80:
        m, probe = 0, first
        while probe & 0x80:
            m += 1
            probe = (probe << 1) & 0xFF
        if m < 2 or m > 7:
            raise ValueError("bad UTF-8 frame number")
        pos += m - 1
    if bs_code in (6, 7):
        width = 1 if bs_code == 6 else 2
        if pos + width > n:
            raise ValueError("truncated blocksize field")
        bs = int.from_bytes(bytes(payload[pos : pos + width]), "big") + 1
        pos += width
    elif bs_code == 1:
        bs = 192
    elif 2 <= bs_code <= 5:
        bs = 576 << (bs_code - 2)
    elif 8 <= bs_code <= 15:
        bs = 256 << (bs_code - 8)
    else:
        raise ValueError("reserved blocksize code")
    if sr_code == 0:
        rate = info_rate
    elif sr_code in _RATE_CODES:
        rate = _RATE_CODES[sr_code]
    elif sr_code in (12, 13, 14):
        width = 1 if sr_code == 12 else 2
        if pos + width > n:
            raise ValueError("truncated sample-rate field")
        v = int.from_bytes(bytes(payload[pos : pos + width]), "big")
        rate = v * 1000 if sr_code == 12 else (v if sr_code == 13 else v * 10)
        pos += width
    else:
        raise ValueError("invalid sample-rate code")
    if pos >= n:
        raise ValueError("truncated before CRC-8")
    return bs, rate, chan, size_code, pos, pos + 1


def _decode_frame(
    payload,
    pos: int,
    info_rate: int,
    remaining: int,
    n_channels: int = 1,
    unpacked=None,
):
    """One frame -> (list of per-channel sample sequences, next_pos).
    Channel assignments (round 11 stereo): 0-7 independent channels,
    8 left/side, 9 right/side, 10 mid/side -- the side subframe
    carries bps+1 bits and the stereo decorrelation is inverted
    exactly per the spec (side = L - R; mid = (L + R) >> 1 with the
    side's low bit restoring the dropped parity).

    Two equal-output decode paths: the vectorized one (numpy bulk bit
    reads + cumsum reconstruction, int64 throughout, guarded by
    _RECON_BOUND) carries every stream our encoders emit; the scalar
    arbitrary-precision path is the exactness fallback for streams
    whose reconstruction could overflow int64 (general LPC coefs,
    adversarial residual magnitudes)."""
    hdr_start = pos
    try:
        bs, rate, chan, size_code, crc_off, sub_off = _walk_frame_header(
            payload, pos, info_rate
        )
    except ValueError:
        return None
    if size_code != 4:
        return None  # 16-bit samples only
    if chan <= 7:
        n_sub, kinds = chan + 1, None
    elif chan == 8:
        n_sub, kinds = 2, ("main", "side")  # left/side
    elif chan == 9:
        n_sub, kinds = 2, ("side", "main")  # right/side
    elif chan == 10:
        n_sub, kinds = 2, ("main", "side")  # mid/side
    else:
        return None
    if n_sub != n_channels:
        return None  # frame disagrees with STREAMINFO
    if _crc8(payload[hdr_start:crc_off]) != payload[crc_off]:
        return None
    if bs > remaining or bs <= 0 or bs > 1 << 20:
        return None
    vector = True
    r = _BitReader(payload, sub_off, unpacked=unpacked)
    try:
        subs = []
        for i in range(n_sub):
            bps = 16 + (1 if kinds and kinds[i] == "side" else 0)
            sub = _decode_subframe_np(r, bs, bps)
            if sub is None:
                return None
            subs.append(sub)
    except _NeedExact:
        vector = False
        r = _BitReader(payload, sub_off)
        subs = []
        for i in range(n_sub):
            bps = 16 + (1 if kinds and kinds[i] == "side" else 0)
            sub = _decode_subframe_scalar(r, bs, bps)
            if sub is None:
                return None
            subs.append(sub)
    r.align()
    crc16 = int.from_bytes(bytes(payload[r.pos : r.pos + 2]), "big")
    if _crc16(payload[hdr_start : r.pos]) != crc16:
        return None
    if vector:
        if chan == 8:  # left/side: R = L - S
            left, side = subs
            chans = [left, left - side]
        elif chan == 9:  # right/side: L = R + S
            side, right = subs
            chans = [right + side, right]
        elif chan == 10:  # mid/side
            mid, side = subs
            mm = (mid << 1) | (side & 1)
            chans = [(mm + side) >> 1, (mm - side) >> 1]
        else:
            chans = subs
    elif chan == 8:  # left/side: R = L - S
        left, side = subs
        chans = [left, [l - s for l, s in zip(left, side)]]
    elif chan == 9:  # right/side: L = R + S
        side, right = subs
        chans = [[rr + s for rr, s in zip(right, side)], right]
    elif chan == 10:  # mid/side
        mid, side = subs
        chans = [[], []]
        for m, s in zip(mid, side):
            mm = (m << 1) | (s & 1)
            chans[0].append((mm + s) >> 1)
            chans[1].append((mm - s) >> 1)
    else:
        chans = subs
    return chans, r.pos + 2


def _sgn_scalar(v: int, width: int) -> int:
    return v - (1 << width) if v >= (1 << (width - 1)) else v


def _sign_vec(vals, width: int):
    """Two's-complement sign adjust of unsigned width-bit fields."""
    import numpy as np

    half = np.int64(1) << (width - 1)
    return np.where(vals >= half, vals - (np.int64(1) << width), vals)


def _reconstruct_fixed(warm, res, order: int, wasted: int):
    """Exact fixed-predictor reconstruction as ``order``-fold integer
    integration (numpy cumsums) -- bit-identical to the sequential
    pred+res loop because the order-k fixed predictor IS the k-th
    finite difference. Raises _NeedExact when the conservative growth
    bound does not fit int64 (the scalar arbitrary-precision path then
    decodes the frame)."""
    import numpy as np

    if order == 0:
        return res
    n = len(res)
    mw = int(np.max(np.abs(warm))) if len(warm) else 0
    mr = int(np.max(np.abs(res))) if n else 0
    bound = (mw + mr + 1) * ((n + order + 1) ** order) * (1 << order)
    if (bound << wasted) >= _RECON_BOUND:
        raise _NeedExact
    w = [int(v) for v in warm]
    arr = res
    for level in range(order - 1, -1, -1):
        # seed = Delta^level y at index order-1, from the warmup alone
        seed = 0
        binom = 1
        for m in range(level + 1):
            seed += (binom if m % 2 == 0 else -binom) * w[order - 1 - m]
            binom = binom * (level - m) // (m + 1)
        arr = seed + np.cumsum(arr)
    return np.concatenate([np.asarray(warm, dtype=np.int64), arr])


def _decode_subframe_np(r: _BitReader, bs: int, bps: int):
    """Vectorized subframe decode: same field-by-field validity rules
    as the scalar path (every None condition mirrors it), bulk numpy
    reads for warmup/verbatim/residuals, cumsum reconstruction for the
    fixed predictors and for LPC configurations that reduce to them
    (coefs divisible by 2^shift, reduced vector == the fixed coefs).
    Raises _NeedExact for anything the int64 fast path cannot carry
    exactly."""
    import numpy as np

    pad = r.read(1)
    ftype = r.read(6)
    wflag = r.read(1)
    if pad is None or ftype is None or wflag is None or pad != 0:
        return None
    wasted = 0
    if wflag:
        q = r.read_unary()
        if q is None:
            return None
        wasted = q + 1
    width = bps - wasted
    if width <= 0:
        return None  # scalar path: 1 << (width-1) ValueError -> None
    if ftype == 0:  # CONSTANT
        v = r.read(width)
        if v is None:
            return None
        return np.full(bs, _sgn_scalar(v, width) << wasted, dtype=np.int64)
    if ftype == 1:  # VERBATIM
        vals = r.read_fixed_vec(bs, width)
        if vals is None:
            return None
        return _sign_vec(vals, width) << wasted
    if 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        if order > bs:
            return None
        warm = r.read_fixed_vec(order, width)
        if warm is None:
            return None
        warm = _sign_vec(warm, width)
        res = _decode_residual_np(r, bs, order)
        if res is None:
            return None
        return _reconstruct_fixed(warm, res, order, wasted) << wasted
    if ftype >= 32:  # LPC, order 1-32
        order = (ftype & 0x1F) + 1
        if order > bs:
            return None
        warm = r.read_fixed_vec(order, width)
        if warm is None:
            return None
        warm = _sign_vec(warm, width)
        prec_m1 = r.read(4)
        if prec_m1 is None or prec_m1 == 15:  # 15: invalid per spec
            return None
        prec = prec_m1 + 1
        shift = r.read(5)
        if shift is None or shift & 0x10:  # negative shift: invalid
            return None
        coefs_u = r.read_fixed_vec(order, prec)
        if coefs_u is None:
            return None
        coefs = [int(c) for c in _sign_vec(coefs_u, prec)]
        res = _decode_residual_np(r, bs, order)
        if res is None:
            return None
        # (sum c_j * y) >> shift == sum (c_j >> shift) * y exactly iff
        # every coef is divisible by 2^shift; when the reduced vector
        # is a fixed-predictor one, the cumsum reconstruction applies.
        if any(c % (1 << shift) for c in coefs):
            raise _NeedExact
        if [c >> shift for c in coefs] != _FIXED_COEFS.get(order):
            raise _NeedExact
        return _reconstruct_fixed(warm, res, order, wasted) << wasted
    # reserved subframe types (2-7, 13-31): the counted boundary
    return None


def _decode_residual_np(r: _BitReader, bs: int, order: int):
    """Vectorized twin of _decode_residual_scalar: same partition walk
    and validity rules, bulk reads per partition."""
    import numpy as np

    method = r.read(2)
    if method is None or method > 1:
        return None
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = r.read(4)
    if po is None:
        return None
    parts = 1 << po
    if bs % parts:
        return None  # blocksize must split evenly across partitions
    chunks = []
    for i in range(parts):
        count = (bs >> po) - (order if i == 0 else 0)
        if count < 0:
            return None
        p = r.read(pbits)
        if p is None:
            return None
        if p == escape:
            raw = r.read(5)
            if raw is None:
                return None
            if raw:
                vals = r.read_fixed_vec(count, raw)
                if vals is None:
                    return None
                vals = _sign_vec(vals, raw)
            else:
                vals = np.zeros(count, dtype=np.int64)
        else:
            vals = r.read_rice_vec(count, p)
            if vals is None:
                return None
        chunks.append(vals)
    if len(chunks) == 1:
        return chunks[0]
    return np.concatenate(chunks)


def _decode_subframe_scalar(r: _BitReader, bs: int, bps: int = 16):
    pad = r.read(1)
    ftype = r.read(6)
    wflag = r.read(1)
    if pad is None or ftype is None or wflag is None or pad != 0:
        return None
    wasted = 0
    if wflag:
        q = r.read_unary()
        if q is None:
            return None
        wasted = q + 1
    width = bps - wasted

    def sgn(v):
        return v - (1 << width) if v >= (1 << (width - 1)) else v

    if ftype == 0:  # CONSTANT
        v = r.read(width)
        if v is None:
            return None
        return [sgn(v) << wasted] * bs
    if ftype == 1:  # VERBATIM
        out = []
        for _ in range(bs):
            v = r.read(width)
            if v is None:
                return None
            out.append(sgn(v) << wasted)
        return out
    if 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype - 8
        if order > bs:
            return None
        warm = []
        for _ in range(order):
            v = r.read(width)
            if v is None:
                return None
            warm.append(sgn(v))
        res = _decode_residual_scalar(r, bs, order)
        if res is None:
            return None
        coefs = _FIXED_COEFS[order]
        out = list(warm)
        for e in res:
            pred = sum(c * out[len(out) - 1 - j] for j, c in enumerate(coefs))
            out.append(pred + e)
        return [v << wasted for v in out]
    if ftype >= 32:  # LPC, order 1-32 (round 11: decodes)
        order = (ftype & 0x1F) + 1
        if order > bs:
            return None
        warm = []
        for _ in range(order):
            v = r.read(width)
            if v is None:
                return None
            warm.append(sgn(v))
        prec_m1 = r.read(4)
        if prec_m1 is None or prec_m1 == 15:  # 15: invalid per spec
            return None
        prec = prec_m1 + 1
        shift = r.read(5)
        if shift is None or shift & 0x10:  # negative shift: invalid
            return None
        coefs = []
        for _ in range(order):
            c = r.read(prec)
            if c is None:
                return None
            if c >= 1 << (prec - 1):
                c -= 1 << prec  # two's complement signed
            coefs.append(c)
        res = _decode_residual_scalar(r, bs, order)
        if res is None:
            return None
        out = list(warm)
        for e in res:
            # arithmetic right shift of the UNSHIFTED prediction sum
            # (Python's >> on negatives IS arithmetic -- the spec's rule)
            pred = sum(
                c * out[len(out) - 1 - j] for j, c in enumerate(coefs)
            ) >> shift
            out.append(pred + e)
        return [v << wasted for v in out]
    # reserved subframe types (2-7, 13-31): the counted boundary
    return None


def _decode_residual_scalar(r: _BitReader, bs: int, order: int):
    method = r.read(2)
    if method is None or method > 1:
        return None
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = r.read(4)
    if po is None:
        return None
    parts = 1 << po
    if bs % parts:
        return None  # blocksize must split evenly across partitions
    out = []
    for i in range(parts):
        count = (bs >> po) - (order if i == 0 else 0)
        if count < 0:
            return None
        p = r.read(pbits)
        if p is None:
            return None
        if p == escape:
            raw = r.read(5)
            if raw is None:
                return None
            for _ in range(count):
                v = r.read(raw) if raw else 0
                if v is None:
                    return None
                if raw and v >= (1 << (raw - 1)):
                    v -= 1 << raw
                out.append(v)
        else:
            for _ in range(count):
                q = r.read_unary()
                if q is None:
                    return None
                rem = r.read(p) if p else 0
                if rem is None:
                    return None
                out.append(_unzigzag((q << p) | rem))
    return out



#: Frame channel-assignment codes for the stereo encoder's modes.
_STEREO_CHAN = {
    "independent": 1,  # 2 independent channels
    "left_side": 8,
    "right_side": 9,
    "mid_side": 10,
}


def encode_flac_stereo(
    left, right, sample_rate: int = 8000, *, mode: str = "mid_side"
) -> bytes:
    """Stereo 16-bit FLAC writer: the mono writer's frame discipline
    with two subframes per frame under the chosen channel assignment
    -- 'independent', 'left_side' (L + side), 'right_side' (side +
    R), or 'mid_side' (mid + side). Side subframes carry 17 bits;
    all decorrelations are exactly invertible, so decode returns the
    original channels bit-for-bit (the lossless claim the tests pin
    per mode). STREAMINFO MD5 covers the channel-interleaved bytes."""
    import numpy as np

    if mode not in _STEREO_CHAN:
        raise ValueError(f"unknown stereo mode {mode!r}")
    left16 = np.asarray(left, dtype="<i2")
    right16 = np.asarray(right, dtype="<i2")
    left = left16.astype(np.int64)
    right = right16.astype(np.int64)
    if len(left) != len(right):
        raise ValueError("channel length mismatch")
    n = len(left)
    block = 4096
    interleaved = np.empty(2 * n, dtype="<i2")
    interleaved[0::2] = left16
    interleaved[1::2] = right16
    md5 = hashlib.md5(interleaved.tobytes()).digest()
    w = _BitWriter()
    w.write(max(min(block, n) if n else block, 16), 16)
    w.write(max(min(block, n) if n else block, 16), 16)
    w.write(0, 24)
    w.write(0, 24)
    w.write(sample_rate, 20)
    w.write(1, 3)  # channels - 1
    w.write(15, 5)  # bits per sample - 1
    w.write(n, 36)
    info = w.bytes() + md5
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info

    chan_code = _STEREO_CHAN[mode]
    frame_idx = 0
    pos = 0
    while pos < n:
        bs = min(block, n - pos)
        lc = left[pos : pos + bs]
        rc = right[pos : pos + bs]
        if mode == "independent":
            subs = [(lc, 16), (rc, 16)]
        elif mode == "left_side":
            subs = [(lc, 16), (lc - rc, 17)]
        elif mode == "right_side":
            subs = [(lc - rc, 17), (rc, 16)]
        else:  # mid_side: mid drops the parity bit the side restores
            subs = [((lc + rc) >> 1, 16), (lc - rc, 17)]
        hdr = bytearray(b"\xff\xf8")
        sr_code, sr_bytes = _rate_code(sample_rate)
        hdr.append((0x07 << 4) | sr_code)
        hdr.append((chan_code << 4) | (0x04 << 1))
        hdr += _utf8_number(frame_idx)
        hdr += (bs - 1).to_bytes(2, "big")
        hdr += sr_bytes
        hdr.append(_crc8(hdr))
        body = _BitWriter()
        for chunk, bps in subs:
            _encode_subframe(body, chunk, None, bps)
        body.align()
        frame = bytes(hdr) + body.bytes()
        frame += _crc16(frame).to_bytes(2, "big")
        out += frame
        pos += bs
        frame_idx += 1
    return bytes(out)


def _first_subframe_offset(payload) -> int:
    """Byte offset of the first frame's first subframe header (it is
    byte-aligned: the frame header is whole bytes) -- the walked
    offset the boundary report's LPC planting rewrites, and the
    classifier reads. Shares _walk_frame_header with the strict
    decoder (which additionally judges CRC and channel support).
    Raises ValueError when the stream has no frame."""
    n = len(payload)
    if n < 8 or bytes(payload[:4]) != b"fLaC":
        raise ValueError("not FLAC")
    pos = 4
    while pos + 4 <= n:
        hdr = payload[pos]
        blen = int.from_bytes(bytes(payload[pos + 1 : pos + 4]), "big")
        pos += 4 + blen
        if hdr & 0x80:
            break
    _bs, _rate, _ch, _sz, _crc_off, sub_off = _walk_frame_header(
        payload, pos, 0
    )
    if sub_off >= n:
        raise ValueError("truncated frame header")
    return sub_off


def flac_subframe_class(payload) -> str | None:
    """Subframe class of the first frame ('constant', 'verbatim',
    'fixed', 'lpc', 'other') by header walk -- no residual decode;
    None when the bytes are not a FLAC stream with a frame."""
    try:
        off = _first_subframe_offset(payload)
    except ValueError:
        return None
    t = (payload[off] >> 1) & 0x3F
    if t == 0:
        return "constant"
    if t == 1:
        return "verbatim"
    if 8 <= t <= 12:
        return "fixed"
    if t >= 32:
        return "lpc"
    return "reserved"
