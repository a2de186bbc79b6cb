"""Baseline JPEG codec (ITU-T T.81 sequential DCT, Huffman), pure
numpy + stdlib — no codec libraries.

Decoder profile: baseline sequential (SOF0) AND progressive (SOF2,
Huffman — T.81 Annex G.1: spectral selection + successive
approximation, all four scan kinds incl. the AC-refinement
correction-bit algorithm and cross-block EOB runs), 8-bit samples, 1
or 3 components, arbitrary Huffman tables from DHT (canonical
reconstruction), arbitrary sampling factors up to the spec's MCU
layout (4:4:4, 4:2:2, 4:2:0, grayscale), interleaved OR per-component
non-interleaved scans (multi-scan baseline, A.2.2), restart intervals
(DRI + RSTn), APPn/COM skipped. Arithmetic coding, 12-bit and
hierarchical modes raise NotImplementedError — the honest boundary of
a from-scratch implementation.

Encoder (for tests + synthetic corpora): 4:4:4, 4:2:0 or grayscale,
Annex-K quantization tables, single-length canonical Huffman tables
(valid, deliberately simple — every DC symbol gets 4 bits, every AC
symbol 8 bits, so the all-ones code is never used); baseline or a
14-scan progressive script (interleaved DC at Al=1 + DC refinement +
per-component AC bands 1-5/6-63 at Al=1 + AC refinements). A
progressive stream carries the SAME quantized coefficients as the
baseline stream of the same image, so tests assert
decode(progressive) == decode(baseline) bit-for-bit — a closed
round-trip oracle. decode(encode(x)) is NOT bit-exact (JPEG is
lossy); tests bound the reconstruction error and verify the
DCT/zigzag/Huffman plumbing against independent numpy references.

Scale shape: decoding runs inside the multimodal mapInPandas stage —
the parallel axis is documents, not pixels; a single image decodes in
O(pixels) numpy/Python work like the PNG/GIF paths.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# constants
# ---------------------------------------------------------------------------


def _zigzag_order() -> np.ndarray:
    """Flat index (row*8+col) of the k-th zigzag position, k=0..63.
    Diagonal d=r+c; odd diagonals walk r increasing, even ones r
    decreasing — reproduces the T.81 Figure 5 sequence
    (0, 1, 8, 16, 9, 2, 3, 10, ...)."""
    cells = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
    )
    return np.array([r * 8 + c for r, c in cells], dtype=np.int64)


ZIGZAG = _zigzag_order()          # k -> flat position

# Annex K.1 / K.2 quantization tables (natural row-major order)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix C: FDCT F = C @ f @ C.T, IDCT
    f = C.T @ F @ C (C @ C.T == I)."""
    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    c = np.cos((2 * n + 1) * k * np.pi / 16)
    c[0, :] *= np.sqrt(1 / 2)
    return c * 0.5


DCT_M = _dct_matrix()


# ---------------------------------------------------------------------------
# Huffman
# ---------------------------------------------------------------------------


def _canonical_codes(counts: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical JPEG construction
    (T.81 Annex C): codes of each length are consecutive, starting
    from (prev_code + prev_count) << 1."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    si = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[si]] = (code, length)
            code += 1
            si += 1
        code <<= 1
    return out


class _HuffDecoder:
    """(length, code) -> symbol lookup built from DHT counts/symbols."""

    def __init__(self, counts: list[int], symbols: list[int]):
        self.lut: dict[tuple[int, int], int] = {}
        for sym, (code, length) in _canonical_codes(counts, symbols).items():
            self.lut[(length, code)] = sym

    def read(self, br: "_BitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


class _BitReader:
    """MSB-first reader over entropy-coded scan bytes with 0xFF00
    unstuffing; RSTn markers are consumed by restart()."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0

    def read_bit(self) -> int:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt != 0x00:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside scan"
                )
        v = (b >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 2 if b == 0xFF else 1
        return v

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Align to a byte boundary and consume one RSTn marker."""
        if self.bit:
            self.bit = 0
            self.pos += 2 if self.data[self.pos] == 0xFF else 1
        if not (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected RST marker at restart interval")
        self.pos += 2


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG -> uint8 array (h, w, channels): baseline sequential
    (SOF0/1) and progressive (SOF2, Huffman) DCT — see module
    docstring for the profile."""
    if payload[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    frame = None
    dri = 0
    coefs: list[np.ndarray] | None = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker;
        # skip them so externally-produced streams parse
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            # coefficient-accumulation streams (progressive OR
            # non-interleaved multi-scan baseline) finish here
            if frame is not None and coefs:
                return _prog_finish(frame, coefs, qt)
            break
        if 0xD0 <= marker <= 0xD7:  # stray RST outside scan
            continue
        length = int.from_bytes(payload[pos : pos + 2], "big")
        body = payload[pos + 2 : pos + length]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(body, np.uint8, 64, i).astype(np.int64)
                    i += 64
                else:
                    tbl = np.frombuffer(body, ">u2", 64, i).astype(np.int64)
                    i += 128
                q = np.zeros(64, np.int64)
                q[ZIGZAG] = tbl  # DQT stores zigzag order
                qt[tq] = q.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = list(body[i + 1 : i + 17])
                n = sum(counts)
                symbols = list(body[i + 17 : i + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffDecoder(
                    counts, symbols
                )
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            precision = body[0]
            if precision != 8:
                raise NotImplementedError("only 8-bit JPEG supported")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = {
                "h": h, "w": w, "comps": comps,
                "progressive": marker == 0xC2,
            }
            if frame["progressive"]:
                _prog_layout(frame)
                coefs = [
                    np.zeros((g["bh"], g["bw"], 64), np.int32)
                    for g in frame["grids"]
                ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG mode SOF{marker - 0xC0} (arithmetic/lossless/"
                "hierarchical) needs a codec library; baseline SOF0 and "
                "progressive SOF2 decode natively"
            )
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if frame["progressive"]:
                pos = _decode_prog_scan(
                    payload, pos + length, frame, body, huff_dc,
                    huff_ac, dri, coefs,
                )
                continue
            ns = body[0]
            if ns < len(frame["comps"]):
                if ns != 1:
                    # partial interleave (1 < ns < frame comps) is
                    # legal but vanishingly rare — refuse clearly
                    raise NotImplementedError(
                        "partially-interleaved baseline scan (1 < ns "
                        "< frame components) is not supported"
                    )
                # NON-interleaved per-component baseline scan
                # (T.81 A.2.2): this component's blocks in its own
                # raster order, one block per MCU. Coefficients
                # accumulate across scans into the SOF2 grids and the
                # dequant+IDCT happens once at EOI.
                if coefs is None:
                    _prog_layout(frame)
                    coefs = [
                        np.zeros((g["bh"], g["bw"], 64), np.int32)
                        for g in frame["grids"]
                    ]
                cs, td_ta = body[1], body[2]
                ci = next(
                    i for i, cc in enumerate(frame["comps"])
                    if cc["id"] == cs
                )
                dc_dec = huff_dc[td_ta >> 4]
                ac_dec = huff_ac[td_ta & 0x0F]
                g = frame["grids"][ci]
                br = _BitReader(payload, pos + length)
                pred = [0]
                for u in range(g["nbw"] * g["nbh"]):
                    if dri and u and u % dri == 0:
                        br.restart()
                        pred = [0]
                    row, col = divmod(u, g["nbw"])
                    coefs[ci][row, col] = _decode_block_coefs(
                        br, dc_dec, ac_dec, pred, 0
                    )
                if br.bit:  # align to the next marker boundary
                    br.bit = 0
                    br.pos += 2 if br.data[br.pos] == 0xFF else 1
                pos = br.pos
                continue
            tables = {}
            for c in range(ns):
                cs, td_ta = body[1 + 2 * c : 3 + 2 * c]
                tables[cs] = (td_ta >> 4, td_ta & 0x0F)
            return _decode_scan(
                payload, pos + length, frame, tables, qt, huff_dc,
                huff_ac, dri,
            )
        pos += length
    raise ValueError("JPEG contains no scan data")


def _decode_scan(payload, pos, frame, tables, qt, huff_dc, huff_ac, dri):
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    if len(comps) == 1:
        # T.81 A.2.2: a NON-interleaved scan is one 8x8 block per MCU —
        # sampling factors order data only in interleaved scans, so a
        # single-component frame decodes with effective 1x1 factors
        comps = [{**comps[0], "h": 1, "v": 1}]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcus_y * 8 * c["v"], mcus_x * 8 * c["h"]), np.float64)
        for c in comps
    ]
    br = _BitReader(payload, pos)
    pred = [0] * len(comps)
    n_mcus = mcus_x * mcus_y
    for m in range(n_mcus):
        if dri and m and m % dri == 0:
            br.restart()
            pred = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for ci, comp in enumerate(comps):
            dc_t, ac_t = tables[comp["id"]]
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    blk = _decode_block(
                        br, huff_dc[dc_t], huff_ac[ac_t], qt[comp["tq"]],
                        pred, ci,
                    )
                    y0 = (my * comp["v"] + by) * 8
                    x0 = (mx * comp["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = blk
    return _finish_planes(planes, comps, hmax, vmax, h, w)


def _finish_planes(planes, comps, hmax, vmax, h, w):
    """Upsample component planes to full resolution, crop the MCU
    padding, convert YCbCr -> RGB (BT.601 as in T.871)."""
    out_planes = []
    for ci, comp in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // comp["v"], axis=0),
                      hmax // comp["h"], axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        img = out_planes[0][:, :, None]
    else:
        y, cb, cr = out_planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        img = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def _decode_block_coefs(br, dc_dec, ac_dec, pred, ci):
    """One baseline-coded block -> zigzag coefficient vector (the
    shared kernel of the direct pixel path and the coefficient-
    accumulation path used by non-interleaved multi-scan streams)."""
    coef = np.zeros(64, np.int32)
    size = dc_dec.read(br)
    pred[ci] += _extend(br.receive(size), size)
    coef[0] = pred[ci]
    k = 1
    while k < 64:
        sym = ac_dec.read(br)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError(f"bad AC symbol 0x{sym:02X}")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC run past block end")
        coef[k] = _extend(br.receive(size), size)
        k += 1
    return coef


def _decode_block(br, dc_dec, ac_dec, q, pred, ci):
    coef = _decode_block_coefs(br, dc_dec, ac_dec, pred, ci)
    blk = np.zeros(64, np.float64)
    blk[ZIGZAG] = coef  # coef is in zigzag order
    blk = blk.reshape(8, 8) * q
    return DCT_M.T @ blk @ DCT_M + 128.0


# ---------------------------------------------------------------------------
# progressive decoder (T.81 Annex G.1: spectral selection + successive
# approximation, Huffman). Coefficients accumulate across scans in
# zigzag order; dequant + IDCT happen once at EOI.
# ---------------------------------------------------------------------------


def _prog_layout(frame) -> None:
    """Attach MCU + per-component block-grid geometry. Coefficient
    arrays are allocated at the interleaved-padded size (bh, bw);
    non-interleaved scans cover the (possibly smaller) sub-grid
    (nbh, nbw) = ceil(component dims / 8) per T.81 A.2.2."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    grids = []
    for c in comps:
        cw = -(-w * c["h"] // hmax)
        ch_ = -(-h * c["v"] // vmax)
        grids.append(
            {
                "bw": mcus_x * c["h"], "bh": mcus_y * c["v"],
                "nbw": -(-cw // 8), "nbh": -(-ch_ // 8),
            }
        )
    frame["mcus"] = (mcus_x, mcus_y)
    frame["grids"] = grids


def _decode_prog_scan(payload, pos, frame, body, huff_dc, huff_ac, dri,
                      coefs) -> int:
    """Decode one progressive scan's entropy data into `coefs`;
    returns the byte offset of the next marker."""
    comps = frame["comps"]
    ns = body[0]
    scomps = []
    for c in range(ns):
        cs, td_ta = body[1 + 2 * c : 3 + 2 * c]
        ci = next(
            i for i, cc in enumerate(comps) if cc["id"] == cs
        )
        scomps.append((ci, td_ta >> 4, td_ta & 0x0F))
    ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    br = _BitReader(payload, pos)
    eob = [0]  # EOB run, shared across blocks within the scan
    if ss == 0:  # DC scan (interleaved allowed)
        pred = [0] * len(scomps)
        if ns > 1:
            mcus_x, mcus_y = frame["mcus"]
            for m in range(mcus_x * mcus_y):
                if dri and m and m % dri == 0:
                    br.restart()
                    pred = [0] * len(scomps)
                my, mx = divmod(m, mcus_x)
                for si, (ci, dc_t, _ac_t) in enumerate(scomps):
                    comp = comps[ci]
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            _prog_dc(
                                br, huff_dc.get(dc_t),
                                coefs[ci][my * comp["v"] + by,
                                          mx * comp["h"] + bx],
                                ah, al, pred, si,
                            )
        else:
            ci, dc_t, _ac_t = scomps[0]
            g = frame["grids"][ci]
            for u in range(g["nbw"] * g["nbh"]):
                if dri and u and u % dri == 0:
                    br.restart()
                    pred = [0]
                row, col = divmod(u, g["nbw"])
                _prog_dc(
                    br, huff_dc.get(dc_t), coefs[ci][row, col],
                    ah, al, pred, 0,
                )
    else:  # AC scan: single component, non-interleaved (G.1.1.1.1)
        if ns != 1:
            raise ValueError("progressive AC scan must be one component")
        ci, _dc_t, ac_t = scomps[0]
        dec = huff_ac[ac_t]
        g = frame["grids"][ci]
        for u in range(g["nbw"] * g["nbh"]):
            if dri and u and u % dri == 0:
                br.restart()
                eob[0] = 0
            row, col = divmod(u, g["nbw"])
            blk = coefs[ci][row, col]
            if ah == 0:
                _prog_ac_first(br, dec, blk, ss, se, al, eob)
            else:
                _prog_ac_refine(br, dec, blk, ss, se, al, eob)
    if br.bit:  # align to the next marker boundary
        br.bit = 0
        br.pos += 2 if br.data[br.pos] == 0xFF else 1
    return br.pos


def _prog_dc(br, dec, blk, ah, al, pred, si) -> None:
    """DC coefficient, first pass (Huffman diff of DC >> Al, stored
    << Al — arithmetic shifts, two's complement) or refinement pass
    (one appended magnitude bit per block, G.1.2.1)."""
    if ah == 0:
        size = dec.read(br)
        pred[si] += _extend(br.receive(size), size)
        blk[0] = pred[si] << al
    elif br.read_bit():
        blk[0] = int(blk[0]) | (1 << al)


def _prog_ac_first(br, dec, blk, ss, se, al, eob) -> None:
    """First pass over an AC band (G.1.2.2): run/size coding as in
    baseline plus cross-block EOB runs; values are sign-magnitude
    point-transformed, stored << Al."""
    if eob[0] > 0:
        eob[0] -= 1
        return
    k = ss
    while k <= se:
        sym = dec.read(br)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r != 15:
                # EOBn: this block ends; (1<<r)-1+bits MORE blocks skip
                eob[0] = (1 << r) - 1 + br.receive(r)
                return
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _extend(br.receive(s), s) << al
        k += 1


def _prog_ac_refine(br, dec, blk, ss, se, al, eob) -> None:
    """Refinement pass over an AC band — the correction-bit algorithm
    of T.81 G.1.2.3: newly-nonzero coefficients arrive as ±1<<Al with
    a run over ZERO-HISTORY positions only; every already-nonzero
    coefficient passed over consumes one correction bit; EOB runs
    count blocks INCLUSIVELY (the current block still refines its
    remaining nonzero coefficients)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eob[0] == 0:
        while k <= se:
            sym = dec.read(br)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eob[0] = (1 << r) + br.receive(r)
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("bad AC refinement symbol")
                val = p1 if br.read_bit() else m1
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if br.read_bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = val
            k += 1
    if eob[0] > 0:
        while k <= se:
            c = int(blk[k])
            if c != 0 and br.read_bit() and (c & p1) == 0:
                blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eob[0] -= 1


def _prog_finish(frame, coefs, qt) -> np.ndarray:
    """Dequantize + IDCT the accumulated coefficient arrays and
    assemble the image (vectorized over all blocks per component)."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for ci, comp in enumerate(comps):
        carr = coefs[ci]
        bh, bw = carr.shape[:2]
        nat = np.zeros((bh, bw, 64), np.float64)
        nat[:, :, ZIGZAG] = carr
        q = qt[comp["tq"]].reshape(64)[None, None, :]
        mat = (nat * q).reshape(bh, bw, 8, 8)
        pix = np.einsum("ij,abjk,kl->abil", DCT_M.T, mat, DCT_M) + 128.0
        planes.append(pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
    return _finish_planes(planes, comps, hmax, vmax, h, w)


# ---------------------------------------------------------------------------
# encoder (tests / synthetic corpora)
# ---------------------------------------------------------------------------

# single-length canonical tables: DC symbols 0..11 at 4 bits, AC
# symbols (run<<4|size for run 0..15, size 1..10) + EOB + ZRL at 8
# bits; n < 2^L - 1 keeps the all-ones code unused (spec-safe)
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = sorted(
    {0x00, 0xF0}
    | {(r << 4) | s for r in range(16) for s in range(1, 11)}
)
_DC_COUNTS = [0] * 16
_DC_COUNTS[3] = len(_DC_SYMBOLS)       # all length 4
_AC_COUNTS = [0] * 16
_AC_COUNTS[7] = len(_AC_SYMBOLS)       # all length 8
_DC_CODES = _canonical_codes(_DC_COUNTS, _DC_SYMBOLS)
_AC_CODES = _canonical_codes(_AC_COUNTS, _AC_SYMBOLS)

# progressive AC table: the baseline symbol set plus the EOBn codes
# (r<<4 for r=1..14, G.1.2.2) — kept SEPARATE so baseline streams stay
# byte-identical to earlier rounds; 176 symbols < 255, all length 8
_AC_SYMBOLS_PROG = sorted(
    set(_AC_SYMBOLS) | {r << 4 for r in range(1, 15)}
)
_AC_COUNTS_PROG = [0] * 16
_AC_COUNTS_PROG[7] = len(_AC_SYMBOLS_PROG)
_AC_CODES_PROG = _canonical_codes(_AC_COUNTS_PROG, _AC_SYMBOLS_PROG)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _quant_zz(block: np.ndarray, q: np.ndarray) -> np.ndarray:
    """8x8 pixel block -> 64 quantized coefficients in zigzag order."""
    coef = np.round((DCT_M @ (block - 128.0) @ DCT_M.T) / q).astype(np.int64)
    return coef.reshape(64)[ZIGZAG]


def _encode_block(bw, block, q, pred, ci):
    zz = _quant_zz(block, q)
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    size = _category(diff)
    code, length = _DC_CODES[size]
    bw.write(code, length)
    if size:
        bw.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    last = last_nz[-1] + 1 if len(last_nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = _AC_CODES[0xF0]
            bw.write(c, ln)
            run -= 16
        size = _category(v)
        c, ln = _AC_CODES[(run << 4) | size]
        bw.write(c, ln)
        bw.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last < 63:
        c, ln = _AC_CODES[0x00]
        bw.write(c, ln)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def encode_jpeg(
    img: np.ndarray,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
    multiscan: bool = False,
) -> bytes:
    """uint8 (h, w) or (h, w, 1|3) -> JPEG bytes (Annex-K quant
    tables, single-length Huffman tables). `subsample=True` writes
    4:2:0 (luma 2x2, mean-downsampled chroma); `restart_interval=R`
    emits a DRI segment and RSTn markers every R MCUs — both exist
    chiefly to exercise the decoder's MCU/upsample/restart paths with
    real streams. `progressive=True` writes an SOF2 stream with a
    14-scan script (interleaved DC at Al=1, DC refinement,
    per-component AC bands 1-5/6-63 at Al=1, then their refinements)
    carrying the SAME quantized coefficients as the baseline stream —
    so both decode bit-identically."""
    if progressive and restart_interval:
        raise ValueError("progressive encoder does not emit DRI")
    if progressive and multiscan:
        raise ValueError("multiscan selects the BASELINE scan layout")
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch == 3:
        r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
        quants = [QUANT_LUMA, QUANT_CHROMA, QUANT_CHROMA]
        tqs = [0, 1, 1]
        hv = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1)] * 3
    elif ch == 1:
        planes = [img[:, :, 0].astype(np.float64)]
        quants = [QUANT_LUMA]
        tqs = [0]
        hv = [(1, 1)]
    else:
        raise ValueError(f"unsupported channel count {ch}")
    hmax = max(x for x, _ in hv)
    vmax = max(y for _, y in hv)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    ph, pw = -(-h // mcu_h) * mcu_h, -(-w // mcu_w) * mcu_w
    planes = [
        np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes
    ]
    for ci, (ch_, cv) in enumerate(hv):
        fy, fx = vmax // cv, hmax // ch_
        if fy > 1 or fx > 1:  # mean-downsample chroma
            p = planes[ci]
            planes[ci] = p.reshape(
                p.shape[0] // fy, fy, p.shape[1] // fx, fx
            ).mean(axis=(1, 3))
    if progressive:
        return _encode_progressive(planes, hv, tqs, quants, h, w)
    if multiscan:
        return _encode_multiscan(
            planes, hv, tqs, quants, h, w, ch, restart_interval
        )
    bw = _BitWriter()
    pred = [0] * len(planes)
    mcus_x, mcus_y = pw // mcu_w, ph // mcu_h
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            pred = [0] * len(planes)
        my, mx = divmod(m, mcus_x)
        for ci, p in enumerate(planes):
            ch_, cv = hv[ci]
            for by in range(cv):
                for bx in range(ch_):
                    y0 = (my * cv + by) * 8
                    x0 = (mx * ch_ + bx) * 8
                    _encode_block(
                        bw, p[y0 : y0 + 8, x0 : x0 + 8],
                        quants[ci], pred, ci,
                    )
    bw.flush()
    sos = _seg(
        0xDA,
        bytes([len(planes)])
        + b"".join(bytes([cid + 1, 0x00]) for cid in range(len(planes)))
        + b"\x00\x3f\x00",
    )
    return (
        b"\xff\xd8"
        + _baseline_headers(len(planes), ch, hv, tqs, h, w,
                            restart_interval)
        + sos + bytes(bw.out) + b"\xff\xd9"
    )


def _baseline_headers(
    ncomp, ch, hv, tqs, h, w, restart_interval
) -> bytes:
    """DQT + SOF0 + DHT (+ DRI) — shared by the interleaved and the
    non-interleaved (multi-scan) baseline encoders."""

    def zz_bytes(q):
        return bytes(int(x) for x in q.reshape(64)[ZIGZAG])

    dqt = _seg(0xDB, b"\x00" + zz_bytes(QUANT_LUMA))
    if ch == 3:
        dqt += _seg(0xDB, b"\x01" + zz_bytes(QUANT_CHROMA))
    sof_comps = b"".join(
        bytes([cid + 1, (hv[cid][0] << 4) | hv[cid][1], tqs[cid]])
        for cid in range(ncomp)
    )
    sof = _seg(
        0xC0,
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([ncomp])
        + sof_comps,
    )
    dht = _seg(
        0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMBOLS)
    ) + _seg(0xC4, bytes([0x10]) + bytes(_AC_COUNTS) + bytes(_AC_SYMBOLS))
    dri = (
        _seg(0xDD, restart_interval.to_bytes(2, "big"))
        if restart_interval
        else b""
    )
    return dqt + sof + dht + dri


def _encode_multiscan(
    planes, hv, tqs, quants, h, w, ch, restart_interval
) -> bytes:
    """Baseline NON-interleaved stream: one single-component SOS per
    component, blocks in the component's own raster order (T.81
    A.2.2) — same quantized coefficients as the interleaved stream,
    so decode(multiscan) == decode(baseline) bit-for-bit."""
    hmax = max(x for x, _ in hv)
    vmax = max(y for _, y in hv)
    scans = b""
    for ci, p in enumerate(planes):
        cw = -(-w * hv[ci][0] // hmax)
        chh = -(-h * hv[ci][1] // vmax)
        nbw, nbh = -(-cw // 8), -(-chh // 8)
        bw = _BitWriter()
        pred = [0]
        rst = 0
        for u in range(nbw * nbh):
            if restart_interval and u and u % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = [0]
            row, col = divmod(u, nbw)
            _encode_block(
                bw, p[row * 8 : row * 8 + 8, col * 8 : col * 8 + 8],
                quants[ci], pred, 0,
            )
        bw.flush()
        scans += _seg(
            0xDA, bytes([1, ci + 1, 0x00]) + b"\x00\x3f\x00"
        ) + bytes(bw.out)
    return (
        b"\xff\xd8"
        + _baseline_headers(len(planes), ch, hv, tqs, h, w,
                            restart_interval)
        + scans + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# progressive encoder (test vectors): 14-scan spectral-selection +
# successive-approximation script, same quantized coefficients as the
# baseline stream — decode(progressive) == decode(baseline) exactly.
# ---------------------------------------------------------------------------


def _ac_first_scan(zz, grid, ss, se, al) -> bytes:
    """One AC first-pass scan (G.1.2.2) over a component's
    non-interleaved block grid: run/size coding of sign-magnitude
    point-transformed values plus cross-block EOB runs."""
    bw = _BitWriter()
    eobrun = 0

    def flush():
        nonlocal eobrun
        while eobrun > 0:
            chunk = min(eobrun, 32767)
            rr = chunk.bit_length() - 1
            c_, l_ = _AC_CODES_PROG[rr << 4]
            bw.write(c_, l_)
            if rr:
                bw.write(chunk - (1 << rr), rr)
            eobrun -= chunk

    nbw, nbh = grid
    for u in range(nbw * nbh):
        row, col = divmod(u, nbw)
        blk = zz[row, col]
        t = [0] * (se + 1)
        last = ss - 1
        for k in range(ss, se + 1):
            v = int(blk[k])
            tv = abs(v) >> al
            t[k] = -tv if v < 0 else tv
            if tv:
                last = k
        if last < ss:
            eobrun += 1
            if eobrun == 32767:
                flush()
            continue
        flush()
        run = 0
        for k in range(ss, last + 1):
            tv = t[k]
            if tv == 0:
                run += 1
                continue
            while run > 15:
                c_, l_ = _AC_CODES_PROG[0xF0]
                bw.write(c_, l_)
                run -= 16
            size = _category(tv)
            c_, l_ = _AC_CODES_PROG[(run << 4) | size]
            bw.write(c_, l_)
            bw.write(tv if tv >= 0 else tv + (1 << size) - 1, size)
            run = 0
        if last < se:
            eobrun += 1
            if eobrun == 32767:
                flush()
    flush()
    bw.flush()
    return bytes(bw.out)


def _ac_refine_scan(zz, grid, ss, se, al) -> bytes:
    """One AC refinement scan (G.1.2.3): newly-nonzero coefficients
    (|v|>>Al == 1) coded with runs over ZERO-HISTORY positions + a
    sign bit; already-nonzero coefficients contribute one buffered
    correction bit each, emitted after the next symbol; tail bits
    after the last newly-nonzero position buffer across blocks and
    flush with the pending EOB run."""
    bw = _BitWriter()
    eobrun = 0
    tail_bits: list[int] = []

    def flush():
        nonlocal eobrun
        if eobrun > 0:
            rr = eobrun.bit_length() - 1
            c_, l_ = _AC_CODES_PROG[rr << 4]
            bw.write(c_, l_)
            if rr:
                bw.write(eobrun - (1 << rr), rr)
            eobrun = 0
        for b in tail_bits:
            bw.write(b, 1)
        tail_bits.clear()

    nbw, nbh = grid
    for u in range(nbw * nbh):
        row, col = divmod(u, nbw)
        blk = zz[row, col]
        absv = [abs(int(blk[k])) >> al for k in range(se + 1)]
        eobidx = ss - 1
        for k in range(ss, se + 1):
            if absv[k] == 1:
                eobidx = k
        run = 0
        br_bits: list[int] = []
        for k in range(ss, se + 1):
            a = absv[k]
            if a == 0:
                run += 1
                continue
            while run > 15 and k <= eobidx:
                flush()
                c_, l_ = _AC_CODES_PROG[0xF0]
                bw.write(c_, l_)
                run -= 16
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
            if a > 1:
                br_bits.append(a & 1)
                continue
            flush()
            c_, l_ = _AC_CODES_PROG[(run << 4) | 1]
            bw.write(c_, l_)
            bw.write(1 if int(blk[k]) >= 0 else 0, 1)
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
            run = 0
        if run > 0 or br_bits:
            eobrun += 1
            tail_bits.extend(br_bits)
            if eobrun == 32767 or len(tail_bits) > 900:
                flush()
    flush()
    bw.flush()
    return bytes(bw.out)


def _encode_progressive(planes, hv, tqs, quants, h, w) -> bytes:
    ncomp = len(planes)
    hmax = max(x for x, _ in hv)
    vmax = max(y for _, y in hv)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    blocks = []
    grids = []
    for ci, p in enumerate(planes):
        bh, bwd = p.shape[0] // 8, p.shape[1] // 8
        zz = np.zeros((bh, bwd, 64), np.int64)
        for r in range(bh):
            for c in range(bwd):
                zz[r, c] = _quant_zz(
                    p[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8], quants[ci]
                )
        blocks.append(zz)
        cw = -(-w * hv[ci][0] // hmax)
        chh = -(-h * hv[ci][1] // vmax)
        grids.append((-(-cw // 8), -(-chh // 8)))

    AL = 1  # successive-approximation split point

    def sos(scomps, ss, se, ah, al, data):
        body = bytes([len(scomps)])
        for ci in scomps:
            body += bytes([ci + 1, 0x00])
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body) + data

    def dc_blocks():
        """Block visitation order of the DC scans: interleaved MCU
        order for multi-component frames, the component's own grid for
        a single component (ns==1 scans are non-interleaved)."""
        if ncomp > 1:
            for m in range(mcus_x * mcus_y):
                my, mx = divmod(m, mcus_x)
                for ci in range(ncomp):
                    hh, vv = hv[ci]
                    for by in range(vv):
                        for bx in range(hh):
                            yield ci, my * vv + by, mx * hh + bx
        else:
            nbw, nbh = grids[0]
            for u in range(nbw * nbh):
                row, col = divmod(u, nbw)
                yield 0, row, col

    # DC first scan (diffs of DC >> AL, arithmetic shift)
    bw = _BitWriter()
    pred = [0] * ncomp
    for ci, row, col in dc_blocks():
        d = int(blocks[ci][row, col, 0]) >> AL
        diff = d - pred[ci]
        pred[ci] = d
        size = _category(diff)
        c_, l_ = _DC_CODES[size]
        bw.write(c_, l_)
        if size:
            bw.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    bw.flush()
    scans = sos(list(range(ncomp)), 0, 0, 0, AL, bytes(bw.out))

    # DC refinement (one appended magnitude bit per block)
    bw = _BitWriter()
    for ci, row, col in dc_blocks():
        bw.write(int(blocks[ci][row, col, 0]) & 1, 1)
    bw.flush()
    scans += sos(list(range(ncomp)), 0, 0, AL, 0, bytes(bw.out))

    bands = ((1, 5), (6, 63))
    for ci in range(ncomp):
        for ss, se in bands:
            scans += sos(
                [ci], ss, se, 0, AL,
                _ac_first_scan(blocks[ci], grids[ci], ss, se, AL),
            )
    for ci in range(ncomp):
        for ss, se in bands:
            scans += sos(
                [ci], ss, se, AL, 0,
                _ac_refine_scan(blocks[ci], grids[ci], ss, se, 0),
            )

    def zz_bytes(q):
        return bytes(int(x) for x in q.reshape(64)[ZIGZAG])

    dqt = _seg(0xDB, b"\x00" + zz_bytes(QUANT_LUMA))
    if ncomp == 3:
        dqt += _seg(0xDB, b"\x01" + zz_bytes(QUANT_CHROMA))
    sof_comps = b"".join(
        bytes([ci + 1, (hv[ci][0] << 4) | hv[ci][1], tqs[ci]])
        for ci in range(ncomp)
    )
    sof = _seg(
        0xC2,
        bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([ncomp]) + sof_comps,
    )
    dht = _seg(
        0xC4, bytes([0x00]) + bytes(_DC_COUNTS) + bytes(_DC_SYMBOLS)
    ) + _seg(
        0xC4,
        bytes([0x10]) + bytes(_AC_COUNTS_PROG) + bytes(_AC_SYMBOLS_PROG),
    )
    return b"\xff\xd8" + dqt + sof + dht + scans + b"\xff\xd9"


def synth_jpeg(
    w: int,
    h: int,
    seed: int = 0,
    gray: bool = False,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
    multiscan: bool = False,
) -> bytes:
    """Deterministic synthetic JPEG payload: a seeded smooth gradient
    plus mild noise (JPEG-friendly content, so reconstruction error
    stays small and tests can bound it). subsample/restart_interval/
    progressive/multiscan pass through to encode_jpeg to produce
    4:2:0 / RSTn / SOF2 / non-interleaved streams."""
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = (
        96.0
        + 64.0 * np.sin(xx / max(w, 1) * 3.0)
        + 48.0 * np.cos(yy / max(h, 1) * 2.0)
    )
    if gray:
        img = np.clip(base + rng.randn(h, w) * 2.0, 0, 255).astype(np.uint8)
    else:
        img = np.clip(
            np.stack(
                [base, np.roll(base, w // 3, axis=1), 255.0 - base], axis=-1
            )
            + rng.randn(h, w, 3) * 2.0,
            0,
            255,
        ).astype(np.uint8)
    return encode_jpeg(
        img, subsample=subsample and not gray,
        restart_interval=restart_interval, progressive=progressive,
        multiscan=multiscan,
    )
