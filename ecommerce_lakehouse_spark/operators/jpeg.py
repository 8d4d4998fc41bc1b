"""JPEG (ITU-T T.81) codec — pure numpy/stdlib.

Scope (documented, honest):

- **Decode**: baseline sequential (SOF0) AND progressive (SOF2, full
  Annex G: spectral selection, successive approximation, DC/AC
  first+refine scans, EOB runs), 8-bit, grayscale or YCbCr with any
  integer sampling factors (4:4:4/4:2:0/4:2:2 multi-block MCUs),
  generic DQT/DHT parsing (any tables, not just Annex K), DRI/RSTn
  restart intervals, 0xFF00 byte unstuffing, partial edge blocks.
  Arithmetic-coded, 12-bit, and lossless streams raise
  ``NotImplementedError`` — detected from the headers, never
  mis-decoded.
- **Encode**: baseline sequential (grayscale, 4:4:4, or 4:2:0) plus a
  progressive encoder (4:4:4/grayscale, DC+AC successive approximation
  and banded spectral selection) whose round trips exercise every
  progressive decode path against the baseline result. Emits its OWN
  canonical fixed-length Huffman tables in DHT (JPEG allows arbitrary
  tables — this is what "optimized" encoders do), so no spec-appendix
  constant tables are transcribed anywhere. Default quantization is
  all-ones, which makes block-constant images decode bit-exactly
  (DC-only blocks survive round-trip) — the property the
  oracle-checked query jpeg_decode_features is built on.

The DCT is the orthonormal 8x8 DCT-II as a matrix product (numpy einsum
over all blocks at once); entropy coding is Python-loop per symbol,
fine for the Arrow-batch image sizes this engine processes.
"""

from __future__ import annotations

import struct

import numpy as np

# orthonormal 8x8 DCT-II basis: T @ block @ T.T transforms, T.T @ c @ T inverts
_T = np.zeros((8, 8))
for _i in range(8):
    for _j in range(8):
        _c = np.sqrt(1 / 8) if _i == 0 else np.sqrt(2 / 8)
        _T[_i, _j] = _c * np.cos((2 * _j + 1) * _i * np.pi / 16)

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])


# ---------------------------------------------------------------------------
# canonical Huffman tables (encoder side: fixed-length, spec-legal)
# ---------------------------------------------------------------------------


def _fixed_length_table(symbols: list[int]) -> tuple[list[int], dict[int, tuple[int, int]]]:
    """Canonical Huffman table giving every symbol the same code length
    L = ceil(log2(n+1)) — valid per T.81 (incomplete trees are allowed;
    n < 2**L keeps the all-ones code unused as the spec requires).
    Returns (BITS[1..16], {symbol: (code, length)})."""
    n = len(symbols)
    length = max(2, int(np.ceil(np.log2(n + 1))))
    bits = [0] * 16
    bits[length - 1] = n
    codes = {s: (i, length) for i, s in enumerate(symbols)}
    return bits, codes


def _category(v: int) -> int:
    """JPEG magnitude category: number of bits to represent |v|."""
    return int(v).bit_length() if v else 0


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.buf)


def _encode_value(w: _BitWriter, v: int, codes: dict) -> None:
    """DC difference / AC level: category code then magnitude bits
    (negative values use the one's-complement convention)."""
    s = _category(v)
    code, length = codes[s]
    w.write(code, length)
    if s:
        w.write(v if v >= 0 else v + (1 << s) - 1, s)


def _block_runs(zz: np.ndarray, prev_dc: int) -> tuple[int, list]:
    """One block's (dc_diff, [(ac_symbol, value), ...]) in zigzag order."""
    diff = int(zz[0]) - prev_dc
    ac = []
    run = 0
    for v in zz[1:]:
        v = int(v)
        if v == 0:
            run += 1
            continue
        while run > 15:
            ac.append((0xF0, 0))  # ZRL
            run -= 16
        ac.append(((run << 4) | _category(v), v))
        run = 0
    if run:
        ac.append((0x00, 0))  # EOB
    return diff, ac


def _plane_grids(img: np.ndarray, qtable: np.ndarray, subsample: bool):
    """Shared encoder front half: color transform (gray passthrough or
    RGB->YCbCr, optional 4:2:0 2x2 chroma pooling), MCU-grid padding,
    blocked DCT, quantization, zigzag. Returns (grids, samps, h, w,
    mcux, mcuy) where grids[ci] is an (nby, nbx, 64) zigzag-ordered
    quantized coefficient grid sized to the MCU grid."""
    gray = img.ndim == 2 or img.shape[2] == 1
    if gray:
        planes = [img.reshape(img.shape[0], img.shape[1]).astype(np.float64)]
        samps = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            # pad to even, then 2x2 mean-pool the chroma planes
            def pool(p):
                ph, pw = -p.shape[0] % 2, -p.shape[1] % 2
                p = np.pad(p, ((0, ph), (0, pw)), mode="edge")
                return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0

            planes = [y, pool(cb), pool(cr)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]
    h, w = planes[0].shape
    hmax = max(s_[0] for s_ in samps)
    vmax = max(s_[1] for s_ in samps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    grids = []
    for plane, (hi, vi) in zip(planes, samps):
        tgt_h, tgt_w = mcuy * vi * 8, mcux * hi * 8
        padded = np.pad(
            plane,
            ((0, tgt_h - plane.shape[0]), (0, tgt_w - plane.shape[1])),
            mode="edge",
        )
        nby, nbx = tgt_h // 8, tgt_w // 8
        blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        coefs = np.einsum("ij,bjk,lk->bil", _T, blocks - 128.0, _T)
        q = np.round(coefs / qtable).astype(np.int64).reshape(nby, nbx, 64)
        grids.append(q[:, :, _ZIGZAG])
    return grids, samps, h, w, mcux, mcuy


def encode_jpeg(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    subsample: bool = False,
) -> bytes:
    """HxW (grayscale) or HxWx3 (RGB -> YCbCr) uint8 -> baseline JPEG
    bytes. ``subsample=True`` emits 4:2:0 (Y at 2x2 sampling, chroma
    averaged over 2x2 pixel blocks) — the layout nearly every real-world
    JPEG uses; default is 4:4:4. Default quantization is all-ones
    (near-lossless; block-constant inputs are bit-exact in grayscale)."""
    if qtable is None:
        qtable = np.ones((8, 8), dtype=np.int64)
    qtable = qtable.astype(np.int64)
    comp_zz, samps, h, w, mcux, mcuy = _plane_grids(img, qtable, subsample)

    # walk MCUs in emission order, building (comp, dc_diff, ac_runs)
    emission = []
    preds = [0] * len(comp_zz)
    dc_syms: set[int] = set()
    ac_syms: set[int] = set()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hi, vi) in enumerate(samps):
                for by in range(vi):
                    for bx in range(hi):
                        zz = comp_zz[ci][my * vi + by, mx * hi + bx]
                        diff, ac = _block_runs(zz, preds[ci])
                        preds[ci] = int(zz[0])
                        dc_syms.add(_category(diff))
                        for sym, _v in ac:
                            ac_syms.add(sym)
                        emission.append((diff, ac))

    dc_bits, dc_codes = _fixed_length_table(sorted(dc_syms))
    ac_bits, ac_codes = _fixed_length_table(sorted(ac_syms))

    out = bytearray(b"\xff\xd8")  # SOI
    zz_q = qtable.reshape(64)[_ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q.tobytes()
    ncomp = len(comp_zz)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, (hi, vi) in zip(range(1, ncomp + 1), samps):
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for cls, (bits, codes) in ((0, (dc_bits, dc_codes)), (1, (ac_bits, ac_codes))):
        vals = bytes(s for s, _ in sorted(codes.items(), key=lambda kv: kv[1]))
        body = bytes([cls << 4]) + bytes(bits) + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wbits = _BitWriter()
    for diff, ac in emission:
        _encode_value(wbits, diff, dc_codes)
        for sym, v in ac:
            code, length = ac_codes[sym]
            wbits.write(code, length)
            s = sym & 0x0F
            if s:
                wbits.write(v if v >= 0 else v + (1 << s) - 1, s)
    out += wbits.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy data truncated")
        byte = d[self.pos]
        if byte == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("JPEG entropy data truncated at 0xFF")
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn handled by caller via sync()
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker 0xff{nxt:02x} in scan")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        return v

    def sync_restart(self) -> None:
        """Consume an RSTn marker boundary: drop pad bits, skip marker."""
        self.n = 0
        self.acc = 0
        d = self.data
        while d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            self.pos += 1
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker: int):
        self.marker = marker


class _HuffTable:
    def __init__(self, bits: list[int], vals: bytes):
        # canonical code reconstruction (T.81 C.2)
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, r: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | r.bits(1)
            sym = self.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad Huffman code in JPEG scan")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG -> HxWxC uint8 (C = 1 gray, 3 RGB)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    frame = None
    restart_interval = 0
    progressive = False
    coefs = None  # progressive: per-component (nby, nbx, 64) accumulators
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quantization tables not supported")
                zz = np.frombuffer(seg, np.uint8, 64, p + 1).astype(np.int64)
                q = np.zeros(64, dtype=np.int64)
                q[_ZIGZAG] = zz
                qtables[tq] = q.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                cls, tid = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                htables[(cls, tid)] = _HuffTable(bits, seg[p + 17 : p + 17 + n])
                p += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            comps = []
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                hi, vi = samp >> 4, samp & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"bad JPEG sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if any(hmax % c[1] or vmax % c[2] for c in comps):
                raise NotImplementedError(
                    "non-integer JPEG sampling ratios not supported"
                )
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"JPEG SOF marker 0xff{marker:02x} (extended/lossless/arithmetic) not supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan_tables = []
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_tables.append((cid, tabs >> 4, tabs & 0x0F))
            if not progressive:
                if len(scan_tables) != len(frame[2]):
                    raise NotImplementedError(
                        "multi-scan baseline JPEG (Ns < Nf non-interleaved "
                        "scans) not supported"
                    )
                return _decode_scan(
                    payload, pos + seglen, frame, scan_tables, qtables, htables,
                    restart_interval,
                )
            # progressive: accumulate this scan's coefficients, continue
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            if coefs is None:
                h, w, comps = frame
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                coefs = [
                    np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
                    for (_cid, hi, vi, _tq) in comps
                ]
                dc_preds = {}
            pos = _decode_progressive_scan(
                payload, pos + seglen, frame, scan_tables, ss, se, ah, al,
                coefs, htables, restart_interval,
            )
            continue
        pos += seglen
    if progressive and coefs is not None:
        return _reconstruct(frame, coefs, qtables)
    raise ValueError("JPEG contains no scan")


def _decode_scan(payload, pos, frame, scan_tables, qtables, htables, dri):
    h, w, comps = frame
    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component coefficient grids sized to the MCU grid
    coefs = [
        np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
        for (_cid, hi, vi, _tq) in comps
    ]
    r = _BitReader(payload, pos)
    preds = [0] * nc
    mcu = 0
    n_mcus = mcuy * mcux
    while mcu < n_mcus:
        my, mx = divmod(mcu, mcux)
        try:
            for ci, (_cid, hi, vi, _tq) in enumerate(comps):
                _scid, dc_id, ac_id = scan_tables[ci]
                dc_t, ac_t = htables[(0, dc_id)], htables[(1, ac_id)]
                for by in range(vi):
                    for bx in range(hi):
                        s = dc_t.decode(r)
                        diff = _extend(r.bits(s), s) if s else 0
                        preds[ci] += diff
                        blk = np.zeros(64, dtype=np.int64)
                        blk[0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = ac_t.decode(r)
                            if sym == 0x00:  # EOB
                                break
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += sym >> 4
                            ssss = sym & 0x0F
                            if k > 63:
                                raise ValueError("AC run past block end")
                            blk[k] = _extend(r.bits(ssss), ssss)
                            k += 1
                        out = np.zeros(64, dtype=np.int64)
                        out[_ZIGZAG] = blk
                        coefs[ci][my * vi + by, mx * hi + bx] = out
            mcu += 1
            if dri and mcu % dri == 0 and mcu < n_mcus:
                r.sync_restart()
                preds = [0] * nc
        except _RestartMarker:
            r.sync_restart()
            preds = [0] * nc
    return _reconstruct(frame, coefs, qtables)


def _reconstruct(frame, coefs, qtables) -> np.ndarray:
    """Dequantize + IDCT per-component (nby, nbx, 64) natural-order
    coefficient grids, upsample, color-convert — shared by the baseline
    single-scan path and the progressive multi-scan accumulator."""
    h, w, comps = frame
    nc = len(comps)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for ci, (_cid, hi, vi, tq) in enumerate(comps):
        nby, nbx = coefs[ci].shape[:2]
        deq = (coefs[ci].reshape(-1, 8, 8) * qtables[tq]).astype(np.float64)
        blocks = np.einsum("ji,bjk,kl->bil", _T, deq, _T)
        grid = blocks.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        # upsample subsampled components to full resolution (nearest
        # neighbor — the baseline-conformant choice), then crop
        grid = np.repeat(np.repeat(grid, vmax // vi, axis=0), hmax // hi, axis=1)
        planes.append(grid[:h, :w] + 128.0)
    if nc == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = planes
    r_ = y + 1.402 * (cr - 128.0)
    g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r_, g_, b_], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _scan_end(payload: bytes, pos: int) -> int:
    """First byte of the next marker at/after ``pos`` (entropy data can't
    contain a bare 0xFF thanks to stuffing; RSTn belong to the scan)."""
    p = pos
    while p + 1 < len(payload):
        if payload[p] == 0xFF and payload[p + 1] != 0x00 and not (
            0xD0 <= payload[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return p


def _decode_progressive_scan(
    payload, pos, frame, scan_tables, ss, se, ah, al, coefs, htables, dri
):
    """One progressive scan (T.81 Annex G decoding): accumulate into the
    per-component natural-order coefficient grids.

    Four scan kinds: DC first (Huffman diffs, values << Al), DC refine
    (one raw bit per block ORed at Al), AC first (run-length + EOB-run
    coding over the [Ss, Se] band), AC refine (newly-significant
    coefficients interleaved with correction bits for already-significant
    ones). AC scans are single-component per the spec; DC scans may
    interleave components MCU-wise like baseline."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_cid = {c[0]: i for i, c in enumerate(comps)}
    r = _BitReader(payload, pos)
    eobrun = 0

    def refine_amount(c):
        return (1 << al) if c > 0 else -(1 << al)

    def decode_ac_first(blk, ac_t):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            sym = ac_t.decode(r)
            rl, sz = sym >> 4, sym & 0x0F
            if sz == 0:
                if rl != 15:
                    eobrun = (1 << rl) - 1
                    if rl:
                        eobrun += r.bits(rl)
                    return
                k += 16  # ZRL
                continue
            k += rl
            if k > se:
                raise ValueError("progressive AC run past band end")
            blk[_ZIGZAG[k]] = _extend(r.bits(sz), sz) << al
            k += 1

    def decode_ac_refine(blk, ac_t):
        nonlocal eobrun
        k = ss
        in_eob = eobrun > 0  # this block folds into a pending EOB run
        if in_eob:
            eobrun -= 1
        else:
            while k <= se:
                sym = ac_t.decode(r)
                rl, sz = sym >> 4, sym & 0x0F
                if sz == 0:
                    if rl != 15:
                        # EOB(n): n-1 MORE blocks after this one; the
                        # CURRENT block still refines its remaining band
                        eobrun = (1 << rl) - 1
                        if rl:
                            eobrun += r.bits(rl)
                        in_eob = True
                        break
                    val = 0  # ZRL: skip 16 zero-history coefficients
                else:
                    if sz != 1:
                        raise ValueError("AC refine size must be 1")
                    val = (1 << al) if r.bits(1) else -(1 << al)
                while k <= se:
                    c = _ZIGZAG[k]
                    if blk[c] != 0:
                        if r.bits(1) and (abs(blk[c]) & (1 << al)) == 0:
                            blk[c] += refine_amount(blk[c])
                    else:
                        if rl == 0:
                            break
                        rl -= 1
                    k += 1
                if val and k <= se:
                    blk[_ZIGZAG[k]] = val
                k += 1
        if in_eob:
            while k <= se:
                c = _ZIGZAG[k]
                if blk[c] != 0:
                    if r.bits(1) and (abs(blk[c]) & (1 << al)) == 0:
                        blk[c] += refine_amount(blk[c])
                k += 1

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("DC scan must have Se=0")
        if len(scan_tables) == 1:
            # non-interleaved: walk the component's OWN block raster
            # (ceil dims from its sampling), never the MCU-padded grid —
            # a full-resolution component of a 4:2:0 frame has fewer
            # coded block rows than the MCU grid when h % 16 != 0
            cid, dc_id, _ac_id = scan_tables[0]
            ci = by_cid[cid]
            _cid, hi, vi, _tq = comps[ci]
            bw = (-(-(w * hi) // hmax) + 7) // 8
            bh = (-(-(h * vi) // vmax) + 7) // 8
            pred = 0
            n_blocks = bh * bw
            blki = 0
            while blki < n_blocks:
                by, bx = divmod(blki, bw)
                try:
                    blk = coefs[ci][by, bx]
                    if ah == 0:
                        s_ = htables[(0, dc_id)].decode(r)
                        diff = _extend(r.bits(s_), s_) if s_ else 0
                        pred += diff
                        blk[0] = pred << al
                    else:
                        if r.bits(1):
                            blk[0] |= 1 << al
                    blki += 1
                    if dri and blki % dri == 0 and blki < n_blocks:
                        r.sync_restart()
                        pred = 0
                except _RestartMarker:
                    r.sync_restart()
                    pred = 0
            return _scan_end(payload, r.pos)
        preds = [0] * len(scan_tables)
        n_mcus = mcuy * mcux
        mcu = 0
        while mcu < n_mcus:
            my, mx = divmod(mcu, mcux)
            try:
                for si, (cid, dc_id, _ac_id) in enumerate(scan_tables):
                    ci = by_cid[cid]
                    _cid, hi, vi, _tq = comps[ci]
                    for by in range(vi):
                        for bx in range(hi):
                            blk = coefs[ci][my * vi + by, mx * hi + bx]
                            if ah == 0:
                                s_ = htables[(0, dc_id)].decode(r)
                                diff = _extend(r.bits(s_), s_) if s_ else 0
                                preds[si] += diff
                                blk[0] = preds[si] << al
                            else:
                                if r.bits(1):
                                    blk[0] |= 1 << al
                mcu += 1
                if dri and mcu % dri == 0 and mcu < n_mcus:
                    r.sync_restart()
                    preds = [0] * len(scan_tables)
            except _RestartMarker:
                r.sync_restart()
                preds = [0] * len(scan_tables)
    else:  # AC scan: single component, its own block raster
        if len(scan_tables) != 1:
            raise ValueError("progressive AC scan must be single-component")
        cid, _dc_id, ac_id = scan_tables[0]
        ci = by_cid[cid]
        _cid, hi, vi, _tq = comps[ci]
        bw = (-(-(w * hi) // hmax) + 7) // 8  # ceil(comp_width / 8)
        bh = (-(-(h * vi) // vmax) + 7) // 8
        ac_t = htables.get((1, ac_id))
        n_blocks = bh * bw
        blki = 0
        while blki < n_blocks:
            by, bx = divmod(blki, bw)
            try:
                blk = coefs[ci][by, bx]
                if ah == 0:
                    decode_ac_first(blk, ac_t)
                else:
                    decode_ac_refine(blk, ac_t)
                blki += 1
                if dri and blki % dri == 0 and blki < n_blocks:
                    r.sync_restart()
                    eobrun = 0
            except _RestartMarker:
                r.sync_restart()
                eobrun = 0
    return _scan_end(payload, r.pos)


# ---------------------------------------------------------------------------
# progressive encoder (T.81 Annex G: spectral selection + successive
# approximation, one refinement level) — exists so the progressive DECODER
# is exercised end-to-end by round trips against the baseline decode.
# ---------------------------------------------------------------------------


def _ac_first_ops(zz_blocks: np.ndarray, ss: int, se: int, al: int) -> list:
    """Op list for an AC 'first' scan (Ah=0) over one component's blocks:
    point-transformed magnitudes, run-length symbols, cross-block EOB-run
    accumulation (trailing zeros fold into the run, never ZRL)."""
    ops: list = []
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            rl = eobrun.bit_length() - 1
            ops.append(("sym", rl << 4))
            if rl:
                ops.append(("bits", eobrun - (1 << rl), rl))
            eobrun = 0

    for blk in zz_blocks:
        t = [
            (v >> al) if v >= 0 else -((-v) >> al) for v in blk[ss : se + 1].tolist()
        ]
        if not any(t):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        last_nz = max(i for i, v in enumerate(t) if v)
        for i, v in enumerate(t):
            if i > last_nz:
                eobrun += 1  # trailing zeros: this block joins an EOB run
                break
            if v == 0:
                run += 1
                continue
            while run > 15:
                ops.append(("sym", 0xF0))
                run -= 16
            sz = _category(v)
            ops.append(("sym", (run << 4) | sz))
            ops.append(("bits", v if v >= 0 else v + (1 << sz) - 1, sz))
            run = 0
    flush_eob()
    return ops


def _ac_refine_ops(zz_blocks: np.ndarray, ss: int, se: int, ah: int, al: int) -> list:
    """Op list for an AC refinement scan (T.81 G.1.2.3 encoder shape):
    newly-significant coefficients as (run<<4)|1 symbols with sign bits,
    correction bits for already-significant coefficients buffered and
    flushed after the next emitted symbol, EOB runs carrying the
    buffered bits of every folded block."""
    ops: list = []
    eobrun = 0
    eob_pending: list = []

    def flush_eob():
        nonlocal eobrun, eob_pending
        if eobrun:
            rl = eobrun.bit_length() - 1
            ops.append(("sym", rl << 4))
            if rl:
                ops.append(("bits", eobrun - (1 << rl), rl))
            ops.extend(eob_pending)
            eob_pending = []
            eobrun = 0

    for blk in zz_blocks:
        band = blk[ss : se + 1].tolist()
        t = [abs(v) >> al for v in band]
        newly = [i for i, v in enumerate(t) if v == 1 and (abs(band[i]) >> ah) == 0]
        eobpos = newly[-1] if newly else -1
        run = 0
        pending: list = []
        for i, v in enumerate(band):
            tv = t[i]
            if tv == 0:
                run += 1
                continue
            while run > 15 and i <= eobpos:
                flush_eob()
                ops.append(("sym", 0xF0))
                run -= 16
                ops.extend(pending)
                pending = []
            if (abs(v) >> ah) != 0:  # already significant: correction bit
                pending.append(("bits", tv & 1, 1))
                continue
            # newly significant (tv == 1)
            flush_eob()
            ops.append(("sym", (run << 4) | 1))
            ops.append(("bits", 1 if v > 0 else 0, 1))
            ops.extend(pending)
            pending = []
            run = 0
        if run > 0 or pending:
            eobrun += 1
            eob_pending.extend(pending)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return ops


def _emit_ops(w: _BitWriter, ops: list, codes: dict | None) -> None:
    for op in ops:
        if op[0] == "sym":
            code, length = codes[op[1]]
            w.write(code, length)
        else:
            _op, v, n = op
            w.write(v, n)


def encode_jpeg_progressive(
    img: np.ndarray,
    qtable: np.ndarray | None = None,
    subsample: bool = False,
    dc_per_component: bool = False,
) -> bytes:
    """HxW (grayscale) or HxWx3 (RGB) uint8 -> PROGRESSIVE JPEG (SOF2):
    a spec-complete scan script with spectral selection AND one
    successive-approximation level — DC first (Al=1), per-component AC
    bands 1-20 and 21-63 (Al=1), DC refine (raw bits), then AC
    refinement scans (Ah=1, Al=0) — so a decoder must get every Annex G
    scan kind right to reproduce the baseline image. ``subsample=True``
    emits 4:2:0 (multi-block MCUs in the DC scans, per-component block
    rasters in the AC scans) — the layout of nearly every real-world
    progressive JPEG."""
    if qtable is None:
        qtable = np.ones((8, 8), dtype=np.int64)
    qtable = qtable.astype(np.int64)
    grids, samps, h, w, mcux, mcuy = _plane_grids(img, qtable, subsample)
    hmax = max(s_[0] for s_ in samps)
    vmax = max(s_[1] for s_ in samps)

    al = 1
    nc = len(grids)

    out = bytearray(b"\xff\xd8")
    zz_q = qtable.reshape(64)[_ZIGZAG].astype(np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz_q.tobytes()
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for cid, (hi, vi) in zip(range(1, nc + 1), samps):
        sof += struct.pack(">BBB", cid, (hi << 4) | vi, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2

    def emit_scan(ops, scan_comps, ss, se, ah, al_, table_cls):
        nonlocal out
        codes = None
        if table_cls is not None:
            syms = sorted({op[1] for op in ops if op[0] == "sym"}) or [0]
            bits, codes = _fixed_length_table(syms)
            vals = bytes(s for s, _ in sorted(codes.items(), key=lambda kv: kv[1]))
            body = bytes([(table_cls << 4) | 0]) + bytes(bits) + vals
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
        sos = bytes([len(scan_comps)])
        for cid in scan_comps:
            sos += bytes([cid, 0x00])
        sos += bytes([ss, se, (ah << 4) | al_])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        wbits = _BitWriter()
        _emit_ops(wbits, ops, codes)
        out += wbits.flush()

    def mcu_blocks():
        """DC-scan emission order: MCU raster, each component's vi x hi
        blocks within the MCU (the baseline interleave, T.81 A.2.3)."""
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (hi, vi) in enumerate(samps):
                    for by in range(vi):
                        for bx in range(hi):
                            yield ci, grids[ci][my * vi + by, mx * hi + bx]

    def comp_raster(ci):
        """AC-scan block raster: the component's OWN ceil-dims grid
        (MCU padding blocks carry DC only, AC stays zero — they are
        cropped at reconstruction)."""
        hi, vi = samps[ci]
        bw = (-(-(w * hi) // hmax) + 7) // 8
        bh = (-(-(h * vi) // vmax) + 7) // 8
        return grids[ci][:bh, :bw].reshape(-1, 64)

    def dc_first_ops(blocks_iter):
        ops: list = []
        preds = [0] * nc
        for ci, blk in blocks_iter:
            v = int(blk[0]) >> al  # arithmetic shift per G.1.2.1
            diff = v - preds[ci]
            preds[ci] = v
            sz = _category(diff)
            ops.append(("sym", sz))
            if sz:
                ops.append(("bits", diff if diff >= 0 else diff + (1 << sz) - 1, sz))
        return ops

    if dc_per_component:
        # one non-interleaved DC scan per component (ns=1; block order is
        # the component's own raster) — the layout that pins the
        # decoder's non-MCU DC geometry, incl. full-res Y of 4:2:0
        for ci in range(nc):
            ops = dc_first_ops((ci, blk) for blk in comp_raster(ci))
            emit_scan(ops, [ci + 1], 0, 0, 0, al, table_cls=0)
    else:
        emit_scan(dc_first_ops(mcu_blocks()), list(range(1, nc + 1)), 0, 0, 0, al, table_cls=0)

    # AC first scans: per component, two spectral bands, own raster
    for ci in range(nc):
        for ss, se in ((1, 20), (21, 63)):
            emit_scan(
                _ac_first_ops(comp_raster(ci), ss, se, al), [ci + 1], ss, se, 0, al, 1
            )

    # DC refine: raw bit Al of each (signed) DC coefficient, no Huffman
    if dc_per_component:
        for ci in range(nc):
            dcr_ops = [("bits", int(blk[0]) & 1, 1) for blk in comp_raster(ci)]
            emit_scan(dcr_ops, [ci + 1], 0, 0, al, 0, table_cls=None)
    else:
        dcr_ops = [("bits", int(blk[0]) & 1, 1) for _ci, blk in mcu_blocks()]
        emit_scan(dcr_ops, list(range(1, nc + 1)), 0, 0, al, 0, table_cls=None)

    # AC refine scans
    for ci in range(nc):
        for ss, se in ((1, 20), (21, 63)):
            emit_scan(
                _ac_refine_ops(comp_raster(ci), ss, se, al, 0), [ci + 1], ss, se, al, 0, 1
            )

    out += b"\xff\xd9"
    return bytes(out)
