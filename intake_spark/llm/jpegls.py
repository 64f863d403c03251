"""JPEG-LS (ITU-T T.87 / ISO 14495-1, the LOCO-I codec) — stdlib+numpy
encoder/decoder for all three interleave modes — ILV-0 (one scan per
component), ILV-1 (line interleaved), ILV-2 (sample interleaved) —
single- or multi-component, lossless (NEAR=0) and near-lossless
(NEAR>0).

Closes the DICOM JPEG-LS transfer-syntax gate (1.2.840.10008.1.2.4.80
lossless / .81 near-lossless) natively, the same way llm/flac.py and
llm/webp.py close the FLAC/VP8L gates: the reference delegates to
pydicom codec plugins (reference readers.py:1644), this package decodes
the bitstream itself. Multi-component frames decode in every T.87
interleave mode: one ILV-0 scan per component (plane interleave) incl.
T.81 sampling factors with nearest upsample, line interleave (ILV 1:
shared context statistics, per-component run index/line buffers), and
sample interleave (ILV 2: runs gate on ALL components, interruption
samples RItype=0 — the mode DICOM color JPEG-LS commonly uses).
DRI/RSTm restart intervals work in ALL interleave modes, including
subsampled interleaved scans (each interval an independent coding
unit). T.87 C.2.5 defines the interval in "lines", which is ambiguous
once sampling factors differ; this codec counts LINE GROUPS of the
interleaved scan (one group = V_i lines of component i — the
interleave-unit reading the public CharLS codec pins), which
degenerates to plain lines at 1x1 factors.

Implementation notes (clause refs are T.87):
- context modeling: 365 regular contexts from quantized gradients
  (A.3), two run-interruption contexts (A.7.2);
- prediction: median edge detector + per-context bias correction C[Q]
  with the B/N cancellation update (A.6);
- entropy coding: limited-length Golomb-Rice, unary cap
  LIMIT - qbpp - 1 with a qbpp-bit escape (A.5.3);
- run mode: J[32] run-order table, '1' = segment of 2^J[RUNindex]
  samples, '0' + J bits = partial run + interruption sample (A.7);
- marker layer: FF-stuffing (a 0 bit follows every FF data byte), SOI /
  SOF55 / LSE(1) / SOS / EOI (annex B/C).

The encoder exists so round-trips prove the decoder bit-exactly (the
verification strategy every stdlib codec in this repo uses) and to back
a potential JPEG-LS sink; both sides are written independently from the
spec's encoder/decoder procedures.
"""

from __future__ import annotations

import struct

from intake_spark.bitio import MSBReader, MSBWriter

# run-order codes (A.7.1.1)
_J = [0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
      4, 4, 5, 5, 6, 6, 7, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_MIN_C, _MAX_C = -128, 127


def _default_thresholds(maxval: int, near: int) -> tuple[int, int, int]:
    """Default T1/T2/T3 (C.2.4.1.1.1)."""
    def clamp(i, lo):
        return lo if (i > maxval or i < lo) else i

    if maxval >= 128:
        factor = (min(maxval, 4095) + 128) // 256
        t1 = clamp(factor * (3 - 2) + 2 + 3 * near, near + 1)
        t2 = clamp(factor * (7 - 3) + 3 + 5 * near, t1)
        t3 = clamp(factor * (21 - 4) + 4 + 7 * near, t2)
    else:
        factor = 256 // (maxval + 1)
        t1 = clamp(max(2, 3 // factor + 3 * near), near + 1)
        t2 = clamp(max(3, 7 // factor + 5 * near), t1)
        t3 = clamp(max(4, 21 // factor + 7 * near), t2)
    return t1, t2, t3


class _Params:
    def __init__(self, precision: int, near: int, maxval: int | None = None,
                 t1=None, t2=None, t3=None, reset: int = 64):
        self.near = near
        # falsy maxval (None, or LSE preset 0 = "default") -> full range
        self.maxval = maxval if maxval else (1 << precision) - 1
        self.range = (self.maxval + 2 * near) // (2 * near + 1) + 1
        bpp = max(2, (self.maxval).bit_length())
        self.qbpp = (self.range - 1).bit_length()
        self.limit = 2 * (bpp + max(8, bpp))
        dt1, dt2, dt3 = _default_thresholds(self.maxval, near)
        self.t1 = t1 if t1 else dt1
        self.t2 = t2 if t2 else dt2
        self.t3 = t3 if t3 else dt3
        self.reset = reset
        # context state: 365 regular + 2 run-interruption (365, 366)
        a_init = max(2, (self.range + 32) // 64)
        self.A = [a_init] * 367
        self.B = [0] * 365
        self.C = [0] * 365
        self.N = [1] * 367
        self.Nn = [0, 0]  # negative-error counters for contexts 365/366

    def quantize_gradient(self, d: int) -> int:
        near = self.near
        if d <= -self.t3:
            return -4
        if d <= -self.t2:
            return -3
        if d <= -self.t1:
            return -2
        if d < -near:
            return -1
        if d <= near:
            return 0
        if d < self.t1:
            return 1
        if d < self.t2:
            return 2
        if d < self.t3:
            return 3
        return 4


def _golomb_encode(bw: MSBWriter, merr: int, k: int, limit: int, qbpp: int):
    """Limited-length Golomb (A.5.3): unary quotient capped at
    limit - qbpp - 1, then either k remainder bits or a qbpp-bit escape
    of (merr - 1)."""
    cap = limit - qbpp - 1
    q = merr >> k
    if q < cap:
        bw.write(1, q + 1)
        bw.write(merr, k)
    else:
        bw.write(1, cap + 1)
        bw.write(merr - 1, qbpp)


def _golomb_decode(br: MSBReader, k: int, limit: int, qbpp: int) -> int:
    cap = limit - qbpp - 1
    q = br.unary()
    if q > cap:
        raise ValueError("JPEG-LS: unary run exceeds the length limit")
    if q < cap:
        return (q << k) | br.read(k)
    return br.read(qbpp) + 1


def _context_k(p: _Params, q: int, ritype: int | None = None) -> int:
    temp = p.A[q] + (p.N[q] >> 1 if ritype == 1 else 0)
    k = 0
    n = p.N[q]
    while (n << k) < temp:
        k += 1
    return k


def _mod_range(errval: int, rng: int) -> int:
    if errval < 0:
        errval += rng
    if errval >= (rng + 1) // 2:
        errval -= rng
    return errval


def _fix_reconstruct(rx: int, p: _Params) -> int:
    if rx < -p.near:
        rx += p.range * (2 * p.near + 1)
    elif rx > p.maxval + p.near:
        rx -= p.range * (2 * p.near + 1)
    return 0 if rx < 0 else (p.maxval if rx > p.maxval else rx)


def _update_regular(p: _Params, q: int, errval: int) -> None:
    """A/B/N update + bias cancellation (A.6)."""
    p.B[q] += errval * (2 * p.near + 1)
    p.A[q] += abs(errval)
    if p.N[q] == p.reset:
        p.A[q] >>= 1
        p.B[q] >>= 1  # arithmetic shift == the spec's floor halving
        p.N[q] >>= 1
    p.N[q] += 1
    if p.B[q] <= -p.N[q]:
        p.B[q] += p.N[q]
        if p.C[q] > _MIN_C:
            p.C[q] -= 1
        if p.B[q] <= -p.N[q]:
            p.B[q] = -p.N[q] + 1
    elif p.B[q] > 0:
        p.B[q] -= p.N[q]
        if p.C[q] < _MAX_C:
            p.C[q] += 1
        if p.B[q] > 0:
            p.B[q] = 0


def _update_run_int(p: _Params, q: int, errval: int, emerr: int, ritype: int):
    if errval < 0:
        p.Nn[q - 365] += 1
    p.A[q] += (emerr + 1 - ritype) >> 1
    if p.N[q] == p.reset:
        p.A[q] >>= 1
        p.N[q] >>= 1
        p.Nn[q - 365] >>= 1
    p.N[q] += 1


def _predict(a: int, b: int, c: int) -> int:
    if c >= max(a, b):
        return min(a, b)
    if c <= min(a, b):
        return max(a, b)
    return a + b - c


def decode_jpegls(blob: bytes):
    """Decode a JPEG-LS stream → 2-D (single component) or HxWxC numpy
    array (uint8 for P<=8, uint16 otherwise).

    Multi-component images decode in all three T.87 interleave modes:
    ILV-0 (one scan per component, T.87 A.2), incl. T.81 sampling
    factors — subsampled components are nearest-upsampled to the frame
    grid — plus ILV-1 (line interleaved) and ILV-2 (sample interleaved)
    single-scan layouts. DRI/RSTm restart intervals decode in every
    mode (each interval is an independently-decodable unit: modeling
    state AND the line above reset, T.87 C.2.5); inside a subsampled
    interleaved scan the interval counts line GROUPS (V_i lines of
    component i per group — the CharLS interleave-unit reading of the
    spec's ambiguous "lines")."""
    import numpy as np

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG-LS stream (no SOI)")
    pos = 2
    precision = width = height = None
    comps = []  # (cid, h, v) from SOF55
    dims = {}  # cid -> (ch, cw)
    decoded = {}  # cid -> plane
    maxval = t1 = t2 = t3 = None
    reset = 64
    ri = 0  # DRI restart interval, in lines (0 = none)
    while True:
        if pos + 2 > len(blob):
            raise ValueError("truncated JPEG-LS header")
        if blob[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        if blob[pos + 1] == 0xFF:  # 0xFF fill byte before a marker (B.1)
            pos += 1
            continue
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > len(blob):
            raise ValueError("truncated JPEG-LS header")
        (seg_len,) = struct.unpack(">H", blob[pos : pos + 2])
        seg = blob[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG-LS marker segment")
        if marker == 0xF7:  # SOF55
            precision, height, width, ncomp = struct.unpack(">BHHB", seg[:6])
            comps = [
                (seg[6 + 3 * i], seg[7 + 3 * i] >> 4, seg[7 + 3 * i] & 0xF)
                for i in range(ncomp)
            ]
            if any(not (1 <= h <= 4 and 1 <= v <= 4) for _c, h, v in comps):
                # T.81 frame syntax; a zero V factor would otherwise make
                # the ILV-1 line-group loop exit with undecoded rows
                raise ValueError(
                    "JPEG-LS sampling factors must be 1..4, got "
                    f"{[(h, v) for _c, h, v in comps]}"
                )
            hmax = max(h for _c, h, _v in comps)
            vmax = max(v for _c, _h, v in comps)
            dims = {
                cid: (-(-height * v // vmax), -(-width * h // hmax))
                for cid, h, v in comps
            }
        elif marker == 0xF8 and seg and seg[0] == 1:  # LSE preset
            # T.87 C.2.4.1.1: a preset value of 0 means "use the
            # default", not a literal 0 (CharLS writes 0 for fields it
            # leaves at default) — the _Params fallbacks treat falsy as
            # unset, and RESET=0 maps back to 64 here
            maxval, t1, t2, t3, reset = struct.unpack(">5H", seg[1:11])
            reset = reset or 64
        elif marker == 0xDD:  # DRI: restart interval in LINES (T.87 C.2.5)
            (ri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS: decode this scan, keep walking
            if precision is None:
                raise ValueError("JPEG-LS scan before the SOF55 frame header")
            ns = seg[0]
            near = seg[1 + 2 * ns]
            ilv = seg[2 + 2 * ns]
            if ns != 1:
                # ---- ILV-1 (line) / ILV-2 (sample) interleaved scan ----
                if ilv not in (1, 2):
                    raise ValueError(
                        f"JPEG-LS multi-component scan with ILV {ilv}"
                    )
                scan_cids = [seg[1 + 2 * j] for j in range(ns)]
                for cid in scan_cids:
                    if cid not in dims:
                        raise ValueError(
                            f"JPEG-LS scan for unknown component {cid}"
                        )
                    if cid in decoded:
                        raise ValueError(
                            f"JPEG-LS component {cid} scanned twice"
                        )
                comp_dims = [dims[cid] for cid in scan_cids]
                if ilv == 2 and len(set(comp_dims)) != 1:
                    raise ValueError(
                        "JPEG-LS sample-interleaved (ILV 2) scan needs "
                        f"identical component dimensions, got {comp_dims}"
                    )
                fmap = {cid_: (h_, v_) for cid_, h_, v_ in comps}
                outs = [np.empty((h_, w_), dtype=np.int64)
                        for h_, w_ in comp_dims]
                vfac = [fmap[cid][1] for cid in scan_cids]
                # Restart intervals count LINE GROUPS of the interleaved
                # scan (one group = V_i lines of component i — "MCU
                # lines"). T.87 C.2.5 defines Ri in "lines", ambiguous
                # between frame lines and component lines once sampling
                # factors differ; the public CharLS codec resolves it as
                # interleave units, which this decoder matches. At 1x1
                # factors the two readings coincide (group == line).
                ngroups = max(
                    -(-h_ // v_) for (h_, _w), v_ in zip(comp_dims, vfac)
                )
                start = pos + seg_len
                step = ri if ri else max(ngroups, 1)
                g0 = 0
                m = 0
                endpos = start
                while g0 < ngroups or (ngroups == 0 and g0 == 0):
                    gs = min(step, ngroups - g0)
                    # each interval decodes as an independent unit:
                    # fresh modeling state, run indexes and line buffers
                    p = _Params(precision, near, maxval, t1, t2, t3,
                                reset)
                    br = MSBReader(blob, start, stuffed=True, codec="JPEG-LS")
                    if ri:
                        # slice every component plane at line-group
                        # boundaries: rows [g0*v, (g0+gs)*v) clipped to
                        # the component height
                        slc = [
                            o_[g0 * v_ : min((g0 + gs) * v_, h_)]
                            for o_, (h_, _w), v_ in zip(
                                outs, comp_dims, vfac)
                        ]
                        sdims = [s_.shape for s_ in slc]
                    else:
                        # single interval: full (possibly subsampled)
                        # per-component dims
                        slc = outs
                        sdims = comp_dims
                    try:
                        if ilv == 1:
                            _decode_scan_ilv1(p, br, sdims, slc, vfac)
                        else:
                            _decode_scan_ilv2(p, br, sdims[0], slc)
                    except IndexError as exc:
                        raise ValueError(
                            "corrupt JPEG-LS scan data"
                        ) from exc
                    g0 += gs
                    endpos = br.pos
                    if g0 >= ngroups:
                        break
                    # between intervals: the RSTm marker, m cycling 0..7
                    j = br.pos
                    while j + 1 < len(blob) and not (
                        blob[j] == 0xFF and 0xD0 <= blob[j + 1] <= 0xD7
                    ):
                        j += 1
                    if j + 1 >= len(blob):
                        raise ValueError(
                            "JPEG-LS restart marker missing after interval"
                        )
                    if blob[j + 1] != 0xD0 + (m % 8):
                        raise ValueError(
                            f"JPEG-LS restart marker out of sequence: got "
                            f"0xFF{blob[j + 1]:02X}, expected 0xFFD{m % 8}"
                        )
                    m += 1
                    start = j + 2
                for cid, o_ in zip(scan_cids, outs):
                    decoded[cid] = o_
                j = endpos
                while j + 1 < len(blob) and not (
                    blob[j] == 0xFF and blob[j + 1] >= 0x80
                ):
                    j += 1
                pos = j
                continue
            cid = seg[1]
            if ilv != 0:
                raise ValueError(
                    f"JPEG-LS single-component scan with ILV {ilv}"
                )
            if cid not in dims:
                raise ValueError(f"JPEG-LS scan for unknown component {cid}")
            if cid in decoded:
                raise ValueError(f"JPEG-LS component {cid} scanned twice")
            ch, cw = dims[cid]
            out = np.empty((ch, cw), dtype=np.int64)
            start = pos + seg_len
            step = ri if ri else ch
            y0 = 0
            m = 0
            endpos = start
            while y0 < ch:
                rows = min(step, ch - y0)
                # T.87 C.2.5 restart semantics: every interval decodes
                # like a fresh scan — modeling variables, run index AND
                # the line above all reset (the intervals are the
                # independently-decodable error-resilience units)
                p = _Params(precision, near, maxval, t1, t2, t3, reset)
                br = MSBReader(blob, start, stuffed=True, codec="JPEG-LS")
                try:
                    _decode_scan(p, br, cw, rows, [0] * cw,
                                 out[y0 : y0 + rows], 0, 0)
                except IndexError as exc:
                    # corrupt run lengths can index past the line buffer
                    raise ValueError("corrupt JPEG-LS scan data") from exc
                y0 += rows
                endpos = br.pos
                if y0 >= ch:
                    break
                # between intervals: the RSTm marker, m cycling 0..7
                # (T.81 B.2.4.4); entropy FFs are always followed by a
                # stuffed-0 byte < 0x80, so FF + D0..D7 is unambiguous
                j = br.pos
                while j + 1 < len(blob) and not (
                    blob[j] == 0xFF and 0xD0 <= blob[j + 1] <= 0xD7
                ):
                    j += 1
                if j + 1 >= len(blob):
                    raise ValueError(
                        "JPEG-LS restart marker missing after interval"
                    )
                if blob[j + 1] != 0xD0 + (m % 8):
                    raise ValueError(
                        f"JPEG-LS restart marker out of sequence: got "
                        f"0xFF{blob[j + 1]:02X}, expected "
                        f"0xFFD{m % 8}"
                    )
                m += 1
                start = j + 2
            decoded[cid] = out
            # next marker: the reader's byte position, advanced past any
            # padding to the FF of a real marker (entropy FFs are always
            # followed by a stuffed-0 byte < 0x80, so FF + >=0x80 is
            # unambiguous)
            j = endpos
            while j + 1 < len(blob) and not (
                blob[j] == 0xFF and blob[j + 1] >= 0x80
            ):
                j += 1
            pos = j
            continue
        pos += seg_len
    if precision is None:
        raise ValueError("JPEG-LS stream has no SOF55 frame header")
    missing = [cid for cid, _h, _v in comps if cid not in decoded]
    if missing:
        raise ValueError(f"JPEG-LS components without scans: {missing}")

    dt = np.uint8 if precision <= 8 else np.uint16
    if len(comps) == 1:
        return decoded[comps[0][0]].astype(dt)
    hmax = max(h for _c, h, _v in comps)
    vmax = max(v for _c, _h, v in comps)
    planes = []
    for cid, h, v in comps:
        p_ = decoded[cid]
        if (h, v) != (hmax, vmax):
            # nearest upsample to the frame grid (same policy as the
            # JPEG 2000 decoder): output pixel takes its covering sample
            rows = np.clip(np.arange(height) * v // vmax, 0, p_.shape[0] - 1)
            cols = np.clip(np.arange(width) * h // hmax, 0, p_.shape[1] - 1)
            p_ = p_[np.ix_(rows, cols)]
        planes.append(p_)
    return np.stack(planes, axis=-1).astype(dt)


def _decode_scan(p, br, W, H, prev, out, c_left_saved, run_index):
    for y in range(H):
        cur = [0] * W
        rc0 = c_left_saved
        c_left_saved = prev[0]
        run_index = _decode_line(p, br, W, prev, cur, rc0, run_index)
        prev = cur
        out[y] = cur


def _decode_line(p, br, W, prev, cur, rc0, run_index) -> int:
    """Decode one component line into ``cur`` (the regular/run machinery
    shared by ILV-0 scans, restart intervals, and ILV-1 line-interleaved
    scans); returns the updated run index."""
    a = prev[0]
    i = 0
    while i < W:
        b = prev[i]
        c = rc0 if i == 0 else prev[i - 1]
        d = prev[i + 1] if i + 1 < W else prev[W - 1]
        q1 = p.quantize_gradient(d - b)
        q2 = p.quantize_gradient(b - c)
        q3 = p.quantize_gradient(c - a)
        if q1 == 0 and q2 == 0 and q3 == 0:
            # ---- run mode (A.7) ----
            runval = a
            broke = False
            while True:
                if br.bit() == 1:
                    seg_n = 1 << _J[run_index]
                    m = min(seg_n, W - i)
                    for _ in range(m):
                        cur[i] = runval
                        i += 1
                    if m == seg_n and run_index < 31:
                        run_index += 1
                    if i >= W:
                        broke = True
                        break
                    if m < seg_n:
                        broke = True  # line end mid-segment
                        break
                else:
                    jn = _J[run_index]
                    r = br.read(jn)
                    for _ in range(r):
                        cur[i] = runval
                        i += 1
                    # run-interruption sample
                    rb = prev[i]
                    ritype = 1 if abs(runval - rb) <= p.near else 0
                    px = runval if ritype else rb
                    sign = -1 if (not ritype and runval > rb) else 1
                    qc = 365 + ritype
                    k = _context_k(p, qc, ritype)
                    emerr = _golomb_decode(
                        br, k, p.limit - _J[run_index] - 1, p.qbpp
                    )
                    temp = emerr + ritype
                    mp = temp & 1
                    eabs = (temp + mp) >> 1
                    nn, n = p.Nn[ritype], p.N[qc]
                    if (k != 0 or 2 * nn >= n) == bool(mp):
                        errval = -eabs
                    else:
                        errval = eabs
                    _update_run_int(p, qc, errval, emerr, ritype)
                    rx = _fix_reconstruct(
                        px + sign * errval * (2 * p.near + 1), p
                    )
                    cur[i] = rx
                    a = rx
                    i += 1
                    if run_index > 0:
                        run_index -= 1
                    break
            if broke:
                a = cur[i - 1] if i else a
            continue
        # ---- regular mode ----
        if q1 < 0 or (q1 == 0 and (q2 < 0 or (q2 == 0 and q3 < 0))):
            sign = -1
            qi = -((q1 * 9 + q2) * 9 + q3)
        else:
            sign = 1
            qi = (q1 * 9 + q2) * 9 + q3
        px = _predict(a, b, c)
        px = px + sign * p.C[qi]
        px = 0 if px < 0 else (p.maxval if px > p.maxval else px)
        k = _context_k(p, qi)
        merr = _golomb_decode(br, k, p.limit, p.qbpp)
        if p.near == 0 and k == 0 and 2 * p.B[qi] <= -p.N[qi]:
            errval = (merr - 1) >> 1 if merr & 1 else -(merr >> 1) - 1
        else:
            errval = merr >> 1 if not merr & 1 else -((merr + 1) >> 1)
        _update_regular(p, qi, errval)
        rx = _fix_reconstruct(px + sign * errval * (2 * p.near + 1), p)
        cur[i] = rx
        a = rx
        i += 1
    return run_index


def _decode_scan_ilv1(p, br, comp_dims, outs, vfac):
    """Line-interleaved scan (T.87 A.2.2): per line group, component i
    contributes V_i lines, all coded with ONE shared set of context
    statistics; the run index and causal line buffers are per component
    (the public CharLS codec pins these semantics — shared
    context/run-mode counters, ``run_index[component]`` saved around
    each line)."""
    nc = len(outs)
    prevs = [[0] * w_ for _h, w_ in comp_dims]
    saved = [0] * nc
    run_idx = [0] * nc
    ys = [0] * nc
    while True:
        progressed = False
        for ci in range(nc):
            h_, w_ = comp_dims[ci]
            for _ in range(vfac[ci]):
                if ys[ci] >= h_:
                    break
                cur = [0] * w_
                rc0 = saved[ci]
                saved[ci] = prevs[ci][0]
                run_idx[ci] = _decode_line(
                    p, br, w_, prevs[ci], cur, rc0, run_idx[ci]
                )
                outs[ci][ys[ci]] = cur
                prevs[ci] = cur
                ys[ci] += 1
                progressed = True
        if not progressed:
            break


def _decode_scan_ilv2(p, br, dim, outs):
    """Sample-interleaved scan (T.87 A.2.3): at each position every
    component codes its sample from its OWN causal neighborhood, with
    one shared set of context statistics and a single run index. Run
    mode is entered only when ALL components' gradients quantize to
    zero, runs advance all components together, and the interruption
    codes one sample per component with RItype forced to 0 and
    sign(Ra - Rb) (A.7.2; the CharLS triplet codec pins these
    semantics)."""
    H, W = dim
    nc = len(outs)
    prevs = [[0] * W for _ in range(nc)]
    saved = [0] * nc
    run_index = 0
    for y in range(H):
        curs = [[0] * W for _ in range(nc)]
        rc0s = saved
        saved = [prevs[ci][0] for ci in range(nc)]
        run_index = _decode_line_ilv2(
            p, br, W, nc, prevs, curs, rc0s, run_index
        )
        for ci in range(nc):
            outs[ci][y] = curs[ci]
        prevs = curs


def _decode_line_ilv2(p, br, W, nc, prevs, curs, rc0s, run_index) -> int:
    a = [prevs[ci][0] for ci in range(nc)]
    i = 0
    while i < W:
        qs = []
        for ci in range(nc):
            prev = prevs[ci]
            b = prev[i]
            c = rc0s[ci] if i == 0 else prev[i - 1]
            d = prev[i + 1] if i + 1 < W else prev[W - 1]
            qs.append(
                (
                    p.quantize_gradient(d - b),
                    p.quantize_gradient(b - c),
                    p.quantize_gradient(c - a[ci]),
                    b,
                    c,
                )
            )
        if all(q1 == 0 and q2 == 0 and q3 == 0 for q1, q2, q3, _b, _c in qs):
            # ---- run mode across all components ----
            runvals = a[:]
            broke = False
            while True:
                if br.bit() == 1:
                    seg_n = 1 << _J[run_index]
                    m = min(seg_n, W - i)
                    for _ in range(m):
                        for ci in range(nc):
                            curs[ci][i] = runvals[ci]
                        i += 1
                    if m == seg_n and run_index < 31:
                        run_index += 1
                    if i >= W or m < seg_n:
                        broke = True
                        break
                else:
                    jn = _J[run_index]
                    r = br.read(jn)
                    for _ in range(r):
                        for ci in range(nc):
                            curs[ci][i] = runvals[ci]
                        i += 1
                    # one interruption sample per component, RItype = 0
                    for ci in range(nc):
                        rb = prevs[ci][i]
                        sign = -1 if runvals[ci] > rb else 1
                        k = _context_k(p, 365, 0)
                        emerr = _golomb_decode(
                            br, k, p.limit - _J[run_index] - 1, p.qbpp
                        )
                        mp = emerr & 1
                        eabs = (emerr + mp) >> 1
                        nn, n = p.Nn[0], p.N[365]
                        if (k != 0 or 2 * nn >= n) == bool(mp):
                            errval = -eabs
                        else:
                            errval = eabs
                        _update_run_int(p, 365, errval, emerr, 0)
                        rx = _fix_reconstruct(
                            rb + sign * errval * (2 * p.near + 1), p
                        )
                        curs[ci][i] = rx
                        a[ci] = rx
                    i += 1
                    if run_index > 0:
                        run_index -= 1
                    break
            if broke and i:
                for ci in range(nc):
                    a[ci] = curs[ci][i - 1]
            continue
        # ---- regular mode, one sample per component ----
        for ci in range(nc):
            q1, q2, q3, b, c = qs[ci]
            if q1 < 0 or (q1 == 0 and (q2 < 0 or (q2 == 0 and q3 < 0))):
                sign = -1
                qi = -((q1 * 9 + q2) * 9 + q3)
            else:
                sign = 1
                qi = (q1 * 9 + q2) * 9 + q3
            px = _predict(a[ci], b, c)
            px = px + sign * p.C[qi]
            px = 0 if px < 0 else (p.maxval if px > p.maxval else px)
            k = _context_k(p, qi)
            merr = _golomb_decode(br, k, p.limit, p.qbpp)
            if p.near == 0 and k == 0 and 2 * p.B[qi] <= -p.N[qi]:
                errval = (merr - 1) >> 1 if merr & 1 else -(merr >> 1) - 1
            else:
                errval = merr >> 1 if not merr & 1 else -((merr + 1) >> 1)
            _update_regular(p, qi, errval)
            rx = _fix_reconstruct(px + sign * errval * (2 * p.near + 1), p)
            curs[ci][i] = rx
            a[ci] = rx
        i += 1
    return run_index


def _encode_scan(p: "_Params", img) -> bytes:
    """Entropy-code one component plane as a single ILV-0 scan (fresh
    statistics per scan, T.87 A.2) → flushed scan bytes."""
    import numpy as np

    H, W = img.shape
    bw = MSBWriter(stuffed=True)
    run_index = 0
    pix = np.asarray(img).astype(np.int64).tolist()
    prev = [0] * W
    c_left_saved = 0
    for y in range(H):
        cur = [0] * W
        rc0 = c_left_saved
        c_left_saved = prev[0]
        run_index = _encode_line(p, bw, W, prev, cur, pix[y], rc0, run_index)
        prev = cur
    return bw.bytes()


def _encode_line(p, bw, W, prev, cur, row, rc0, run_index) -> int:
    """Encode one component line (shared by ILV-0 scans and ILV-1
    line-interleaved scans); returns the updated run index."""
    a = prev[0]
    i = 0
    while i < W:
        b = prev[i]
        c = rc0 if i == 0 else prev[i - 1]
        d = prev[i + 1] if i + 1 < W else prev[W - 1]
        q1 = p.quantize_gradient(d - b)
        q2 = p.quantize_gradient(b - c)
        q3 = p.quantize_gradient(c - a)
        if q1 == 0 and q2 == 0 and q3 == 0:
            # ---- run mode ----
            runval = a
            start = i
            while i < W and abs(row[i] - runval) <= p.near:
                cur[i] = runval
                i += 1
            run = i - start
            while run >= (1 << _J[run_index]):
                bw.write(1, 1)
                run -= 1 << _J[run_index]
                if run_index < 31:
                    run_index += 1
            if i >= W:  # line end ended the run
                if run > 0:
                    bw.write(1, 1)
                a = cur[i - 1] if i else a
                continue
            bw.write(run, 1 + _J[run_index])  # a 0, then the run's J bits
            # run-interruption sample
            rb = prev[i]
            ritype = 1 if abs(runval - rb) <= p.near else 0
            px = runval if ritype else rb
            sign = -1 if (not ritype and runval > rb) else 1
            errval = row[i] - px
            if sign < 0:
                errval = -errval
            if p.near > 0:
                if errval > 0:
                    errval = (p.near + errval) // (2 * p.near + 1)
                else:
                    errval = -((p.near - errval) // (2 * p.near + 1))
            rx = _fix_reconstruct(px + sign * errval * (2 * p.near + 1), p)
            errval = _mod_range(errval, p.range)
            qc = 365 + ritype
            k = _context_k(p, qc, ritype)
            nn, n = p.Nn[ritype], p.N[qc]
            if k == 0 and errval > 0 and 2 * nn < n:
                mp = 1
            elif errval < 0 and 2 * nn >= n:
                mp = 1
            elif errval < 0 and k != 0:
                mp = 1
            else:
                mp = 0
            emerr = 2 * abs(errval) - ritype - mp
            _golomb_encode(bw, emerr, k, p.limit - _J[run_index] - 1, p.qbpp)
            _update_run_int(p, qc, errval, emerr, ritype)
            cur[i] = rx
            a = rx
            i += 1
            if run_index > 0:
                run_index -= 1
            continue
        # ---- regular mode ----
        if q1 < 0 or (q1 == 0 and (q2 < 0 or (q2 == 0 and q3 < 0))):
            sign = -1
            qi = -((q1 * 9 + q2) * 9 + q3)
        else:
            sign = 1
            qi = (q1 * 9 + q2) * 9 + q3
        px = _predict(a, b, c)
        px = px + sign * p.C[qi]
        px = 0 if px < 0 else (p.maxval if px > p.maxval else px)
        errval = row[i] - px
        if sign < 0:
            errval = -errval
        if p.near > 0:
            if errval > 0:
                errval = (p.near + errval) // (2 * p.near + 1)
            else:
                errval = -((p.near - errval) // (2 * p.near + 1))
        rx = _fix_reconstruct(px + sign * errval * (2 * p.near + 1), p)
        errval = _mod_range(errval, p.range)
        k = _context_k(p, qi)
        if p.near == 0 and k == 0 and 2 * p.B[qi] <= -p.N[qi]:
            merr = 2 * errval + 1 if errval >= 0 else -2 * (errval + 1)
        else:
            merr = 2 * errval if errval >= 0 else -2 * errval - 1
        _golomb_encode(bw, merr, k, p.limit, p.qbpp)
        _update_regular(p, qi, errval)
        cur[i] = rx
        a = rx
        i += 1
    return run_index



def _encode_scan_ilv1(p: "_Params", comps, vfac) -> bytes:
    """Entropy-code all components as ONE line-interleaved scan (T.87
    A.2.2): per line group component i contributes V_i lines, context
    statistics shared, run index and line buffers per component — the
    mirror of :func:`_decode_scan_ilv1`."""
    import numpy as np

    nc = len(comps)
    bw = MSBWriter(stuffed=True)
    pix = [np.asarray(c_).astype(np.int64).tolist() for c_ in comps]
    prevs = [[0] * c_.shape[1] for c_ in comps]
    saved = [0] * nc
    run_idx = [0] * nc
    ys = [0] * nc
    while True:
        progressed = False
        for ci in range(nc):
            h_, w_ = comps[ci].shape
            for _ in range(vfac[ci]):
                if ys[ci] >= h_:
                    break
                cur = [0] * w_
                rc0 = saved[ci]
                saved[ci] = prevs[ci][0]
                run_idx[ci] = _encode_line(
                    p, bw, w_, prevs[ci], cur, pix[ci][ys[ci]], rc0,
                    run_idx[ci],
                )
                prevs[ci] = cur
                ys[ci] += 1
                progressed = True
        if not progressed:
            break
    return bw.bytes()


def _encode_scan_ilv2(p: "_Params", comps) -> bytes:
    """Entropy-code equal-sized components as ONE sample-interleaved
    scan (T.87 A.2.3) — the mirror of :func:`_decode_scan_ilv2`."""
    import numpy as np

    nc = len(comps)
    H, W = comps[0].shape
    bw = MSBWriter(stuffed=True)
    pix = [np.asarray(c_).astype(np.int64).tolist() for c_ in comps]
    prevs = [[0] * W for _ in range(nc)]
    saved = [0] * nc
    run_index = 0
    for y in range(H):
        curs = [[0] * W for _ in range(nc)]
        rc0s = saved
        saved = [prevs[ci][0] for ci in range(nc)]
        run_index = _encode_line_ilv2(
            p, bw, W, nc, prevs, curs, [pix[ci][y] for ci in range(nc)],
            rc0s, run_index,
        )
        prevs = curs
    return bw.bytes()


def _encode_line_ilv2(p, bw, W, nc, prevs, curs, rows, rc0s,
                      run_index) -> int:
    a = [prevs[ci][0] for ci in range(nc)]
    i = 0
    while i < W:
        qs = []
        for ci in range(nc):
            prev = prevs[ci]
            b = prev[i]
            c = rc0s[ci] if i == 0 else prev[i - 1]
            d = prev[i + 1] if i + 1 < W else prev[W - 1]
            qs.append(
                (
                    p.quantize_gradient(d - b),
                    p.quantize_gradient(b - c),
                    p.quantize_gradient(c - a[ci]),
                    b,
                    c,
                )
            )
        if all(q1 == 0 and q2 == 0 and q3 == 0 for q1, q2, q3, _b, _c in qs):
            # ---- run mode across all components ----
            runvals = a[:]
            start = i
            while i < W and all(
                abs(rows[ci][i] - runvals[ci]) <= p.near for ci in range(nc)
            ):
                for ci in range(nc):
                    curs[ci][i] = runvals[ci]
                i += 1
            run = i - start
            while run >= (1 << _J[run_index]):
                bw.write(1, 1)
                run -= 1 << _J[run_index]
                if run_index < 31:
                    run_index += 1
            if i >= W:  # line end ended the run
                if run > 0:
                    bw.write(1, 1)
                if i:
                    for ci in range(nc):
                        a[ci] = curs[ci][i - 1]
                continue
            bw.write(run, 1 + _J[run_index])  # a 0, then the run's J bits
            # one interruption sample per component, RItype = 0
            for ci in range(nc):
                rb = prevs[ci][i]
                sign = -1 if runvals[ci] > rb else 1
                errval = rows[ci][i] - rb
                if sign < 0:
                    errval = -errval
                if p.near > 0:
                    if errval > 0:
                        errval = (p.near + errval) // (2 * p.near + 1)
                    else:
                        errval = -((p.near - errval) // (2 * p.near + 1))
                rx = _fix_reconstruct(
                    rb + sign * errval * (2 * p.near + 1), p
                )
                errval = _mod_range(errval, p.range)
                k = _context_k(p, 365, 0)
                nn, n = p.Nn[0], p.N[365]
                if k == 0 and errval > 0 and 2 * nn < n:
                    mp = 1
                elif errval < 0 and 2 * nn >= n:
                    mp = 1
                elif errval < 0 and k != 0:
                    mp = 1
                else:
                    mp = 0
                emerr = 2 * abs(errval) - mp
                _golomb_encode(
                    bw, emerr, k, p.limit - _J[run_index] - 1, p.qbpp
                )
                _update_run_int(p, 365, errval, emerr, 0)
                curs[ci][i] = rx
                a[ci] = rx
            i += 1
            if run_index > 0:
                run_index -= 1
            continue
        # ---- regular mode, one sample per component ----
        for ci in range(nc):
            q1, q2, q3, b, c = qs[ci]
            if q1 < 0 or (q1 == 0 and (q2 < 0 or (q2 == 0 and q3 < 0))):
                sign = -1
                qi = -((q1 * 9 + q2) * 9 + q3)
            else:
                sign = 1
                qi = (q1 * 9 + q2) * 9 + q3
            px = _predict(a[ci], b, c)
            px = px + sign * p.C[qi]
            px = 0 if px < 0 else (p.maxval if px > p.maxval else px)
            errval = rows[ci][i] - px
            if sign < 0:
                errval = -errval
            if p.near > 0:
                if errval > 0:
                    errval = (p.near + errval) // (2 * p.near + 1)
                else:
                    errval = -((p.near - errval) // (2 * p.near + 1))
            rx = _fix_reconstruct(px + sign * errval * (2 * p.near + 1), p)
            errval = _mod_range(errval, p.range)
            k = _context_k(p, qi)
            if p.near == 0 and k == 0 and 2 * p.B[qi] <= -p.N[qi]:
                merr = 2 * errval + 1 if errval >= 0 else -2 * (errval + 1)
            else:
                merr = 2 * errval if errval >= 0 else -2 * errval - 1
            _golomb_encode(bw, merr, k, p.limit, p.qbpp)
            _update_regular(p, qi, errval)
            curs[ci][i] = rx
            a[ci] = rx
        i += 1
    return run_index


def encode_jpegls(img, near: int = 0, sampling=None,
                  restart_interval: int = 0, ilv: int = 0) -> bytes:
    """Encode a 2-D (grayscale), HxWxC, or plane-list array as JPEG-LS
    (NEAR=0 lossless; NEAR>0 bounds every sample error by ``near``).
    Multi-component images are written as one ILV-0 scan per component
    (plane interleave, T.87 A.2). ``sampling=[(h, v), ...]`` gives T.81
    sampling FACTORS per component (larger = denser): pass ``img`` as a
    plane LIST whose shapes are ceil(H*v/vmax) x ceil(W*h/hmax), with
    component 0 at the maximum factors. ``restart_interval=n`` emits a
    DRI segment and an RSTm marker every ``n`` LINES (T.87 C.2.5; in a
    subsampled interleaved scan: every n line GROUPS, V_i lines of
    component i each — the CharLS interleave-unit reading) — each
    interval coded as an independent unit (fresh modeling state, line
    above treated as the scan start), the error-resilience layout
    hardware encoders emit. ``ilv`` picks the interleave mode for
    multi-component images: 0 = one scan per component (default),
    1 = line interleaved, 2 = sample interleaved (single scan, shared
    context statistics — how DICOM color JPEG-LS is commonly written).
    The round-trip counterpart of :func:`decode_jpegls`."""
    import numpy as np

    if isinstance(img, (list, tuple)):
        comps = [np.asarray(c) for c in img]
    else:
        img = np.asarray(img)
        if img.ndim == 2:
            comps = [img]
        elif img.ndim == 3:
            comps = [img[:, :, i] for i in range(img.shape[2])]
        else:
            raise ValueError(
                "encode_jpegls takes a 2-D or HxWxC array or a plane list"
            )
    nc = len(comps)
    if nc == 0 or nc > 255:
        raise ValueError(f"encode_jpegls: {nc} components")
    fac = [tuple(f) for f in sampling] if sampling else [(1, 1)] * nc
    if len(fac) != nc:
        raise ValueError("sampling list length != component count")
    hmax = max(h for h, _v in fac)
    vmax = max(v for _h, v in fac)
    if fac[0] != (hmax, vmax):
        raise ValueError("component 0 must carry the maximum sampling factors")
    if not all(1 <= h <= 4 and 1 <= v <= 4 for h, v in fac):
        raise ValueError("sampling factors must be 1..4 (T.81 frame syntax)")
    H, W = comps[0].shape
    # frame dims are the full grid; comp i covers ceil(dim * f_i / fmax)
    for c, (h, v) in zip(comps, fac):
        want = (-(-H * v // vmax), -(-W * h // hmax))
        if c.shape != want:
            raise ValueError(
                f"component shape {c.shape} does not match sampling "
                f"({h}, {v}) — expected {want}"
            )
    maxval = max(int(c.max()) if c.size else 0 for c in comps)
    precision = max(2, int(maxval).bit_length())
    if not 0 <= restart_interval <= 0xFFFF:
        raise ValueError("restart_interval must be in 0..65535 lines")
    if ilv not in (0, 1, 2):
        raise ValueError(f"ilv must be 0, 1 or 2, got {ilv}")
    if ilv and nc == 1:
        ilv = 0  # a single component is always one ILV-0 scan
    if ilv == 2 and len({c.shape for c in comps}) != 1:
        raise ValueError(
            "sample interleave (ILV 2) needs identical component "
            "dimensions — drop the sampling factors"
        )
    head = bytearray(b"\xff\xd8")  # SOI
    head += b"\xff\xf7" + struct.pack(">HBHHB", 8 + 3 * nc, precision, H, W, nc)
    for i, (h, v) in enumerate(fac):
        head += struct.pack(">BBB", i + 1, (h << 4) | v, 0)
    if restart_interval:
        head += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    if ilv:
        head += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
        for i in range(nc):
            head += struct.pack(">BB", i + 1, 0)
        head += struct.pack(">BBB", near, ilv, 0)
        # restart intervals count LINE GROUPS of the interleaved scan
        # (one group = V_i lines of component i) — the interleave-unit
        # reading of T.87 C.2.5's "lines" that the public CharLS codec
        # pins; at 1x1 factors a group IS a line, so the two readings
        # coincide (see decode_jpegls for the ambiguity note)
        vlist = [v for _h, v in fac]
        ngroups = max(
            -(-c.shape[0] // v) for c, v in zip(comps, vlist)
        )
        step = restart_interval if restart_interval else ngroups
        m = 0
        for g0 in range(0, max(ngroups, 1), max(step, 1)):
            if g0:
                head += bytes((0xFF, 0xD0 + m % 8))
                m += 1
            p = _Params(precision, near)
            sub = [c[g0 * v : (g0 + step) * v]
                   for c, v in zip(comps, vlist)]
            if ilv == 1:
                data = _encode_scan_ilv1(p, sub, vlist)
            else:
                data = _encode_scan_ilv2(p, sub)
            if data.endswith(b"\xff"):
                data += b"\x00"
            head += data
        return bytes(head) + b"\xff\xd9"
    for i, c in enumerate(comps):
        head += b"\xff\xda" + struct.pack(">HB", 6 + 2, 1)
        head += struct.pack(">BBBBB", i + 1, 0, near, 0, 0)  # ILV 0
        step = restart_interval if restart_interval else c.shape[0]
        m = 0
        for y0 in range(0, max(c.shape[0], 1), max(step, 1)):
            if y0:
                # RSTm between intervals, counter cycling per scan
                head += bytes((0xFF, 0xD0 + m % 8))
                m += 1
            p = _Params(precision, near)
            data = _encode_scan(p, c[y0 : y0 + step])
            if data.endswith(b"\xff"):
                # never leave a bare FF against the following marker:
                # append an empty stuffed byte (decoders read its 7
                # payload bits only if they need them)
                data += b"\x00"
            head += data
    return bytes(head) + b"\xff\xd9"
