"""Real image codec kernels for the multimodal operators.

Two tiers, best available wins, all pure functions of the payload, so
the pixels never depend on what a machine has installed:

1. **Stdlib PNG codec** (zlib + struct + numpy): full decode of
   non-interlaced 8-bit gray/RGB/RGBA PNGs, nearest-neighbor resize,
   re-encode. PNG's format is public and simple enough that the
   whole codec is ~80 lines — so "decode actual image bytes" does
   not have to wait for codec libraries. Plus a **stdlib
   baseline-sequential JPEG codec** (ITU-T T.81): full pixel decode
   of SOF0/SOF1 Huffman streams (4:4:4/4:2:2/4:2:0/gray, restart
   markers), so genuine JPEG payloads yield real features instead
   of NULLs; progressive/arithmetic/CMYK return None and fall to the
   probe tier.
2. **Header-only dimension probes** for PNG / JPEG / GIF / BMP
   (struct over the public container layouts — what the `imagesize`
   library does): real width/height/channels without decoding
   pixels, which is all the metadata stage needs.

Anything unrecognized falls back to the deterministic stubs in
operators/multimodal.py, keeping text-bytes fixtures (and their
oracles) working unchanged.
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: PNG color type → channel count
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def probe_dims(payload: bytes) -> tuple[int, int, int] | None:
    """(width, height, channels) from container headers alone, or
    None when the payload is not a recognized image format."""
    if payload is None or len(payload) < 10:
        return None
    b = bytes(payload)
    if b.startswith(_PNG_SIG) and len(b) >= 29 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        channels = _PNG_CHANNELS.get(b[25])
        if channels is None:
            return None
        return (w, h, channels)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return (w, h, 3)  # palette expands to RGB
    if b.startswith(b"BM") and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return (w, abs(h), 3)
    if b.startswith(b"\xff\xd8"):
        return _jpeg_dims(b)
    return None


#: JPEG start-of-frame markers that carry dimensions (all SOFn except
#: DHT/DAC/restart markers which reuse the C-range).
_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _jpeg_dims(b: bytes) -> tuple[int, int, int] | None:
    i = 2
    n = len(b)
    while i + 9 <= n:
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
        if marker in _SOF:
            h, w = struct.unpack(">HH", b[i + 5 : i + 9])
            return (w, h, b[i + 9])
        i += 2 + seg_len
    return None


# ---------------------------------------------------------------------------
# Stdlib PNG decode / encode (non-interlaced, 8-bit depth)
# ---------------------------------------------------------------------------


def png_decode(payload: bytes):
    """Decode an 8-bit non-interlaced gray/RGB/RGBA PNG to an
    (h, w, channels) uint8 numpy array; None when the payload is not
    such a PNG. Unfiltering follows the PNG spec (filters 0-4)."""
    import numpy as np

    b = bytes(payload or b"")
    if not b.startswith(_PNG_SIG):
        return None
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(b):
        (length,), ctype = struct.unpack(">I", b[pos : pos + 4]), b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            if len(data) != 13:  # truncated/corrupt header (fuzz r09)
                return None
            w, h, depth, color, _, _, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8 or interlace != 0 or color not in (0, 2, 6):
                return None
            meta = (w, h, _PNG_CHANNELS[color])
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if meta is None or not idat:
        return None
    w, h, ch = meta
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * ch
    if len(raw) != h * (stride + 1):
        return None
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(raw, np.uint8, stride, row_start + 1).copy()
        if ftype == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (line[x] + line[x - ch]) & 0xFF
        elif ftype == 2:  # Up
            line = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - ch] if x >= ch else 0
                line[x] = (line[x] + ((int(left) + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - ch]) if x >= ch else 0
                bb = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + bb - c
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            return None
        out[y] = line
        prev = line
    return out.reshape(h, w, ch)


def png_encode(arr) -> bytes:
    """Encode an (h, w, channels∈{1,3,4}) uint8 array as a PNG
    (filter 0 rows — valid, if not maximally compressed)."""
    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, ch = arr.shape
    color = {1: 0, 3: 2, 4: 6}[ch]
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def resize_real(payload: bytes, width: int, height: int) -> bytes | None:
    """Real resize when the stdlib PNG codec can decode the payload
    (nearest-neighbor). None → caller falls back to the stub."""
    import numpy as np

    if payload is None:
        return None
    arr = png_decode(bytes(payload))
    if arr is None:
        return None
    h_in, w_in, _ = arr.shape
    ys = np.minimum((np.arange(height) * h_in) // height, h_in - 1)
    xs = np.minimum((np.arange(width) * w_in) // width, w_in - 1)
    return png_encode(arr[ys][:, xs])


# ---------------------------------------------------------------------------
# GIF container codec (animated GIF as the "video" fixture format)
# ---------------------------------------------------------------------------
#
# The frame-sampling stage needs a real multi-frame container to prove
# itself on. Animated GIF is the one video-ish format whose layout is
# simple enough for a dependency-free codec: `gif_frames` walks the
# public block structure (GIF89a spec: logical screen descriptor,
# graphic-control extensions, image descriptors, sub-block chains) and
# returns every frame's descriptor + timing without decoding pixels;
# `gif_encode` writes a GENUINE animated GIF — the LZW bitstream is
# real (literal-coded with correct decoder-table width growth and
# periodic clear codes), so any standard viewer renders the output.


def _lzw_solid(n_pixels: int, color_idx: int, min_code: int = 2) -> bytes:
    """Valid GIF-LZW stream for ``n_pixels`` of one color index.
    All-literal coding: the decoder adds one table entry per code
    after each clear, so the encoder mirrors that growth to time its
    code-width increments, clearing before the table can overflow."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code + 1
    next_code = eoi + 1
    emit(clear, width)
    first = True
    for _ in range(n_pixels):
        emit(color_idx, width)
        if first:
            first = False
        else:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
            if next_code >= 4093:
                emit(clear, width)
                width = min_code + 1
                next_code = eoi + 1
                first = True
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(
    frames: list[tuple[int, int, int, int, int]],
    screen_w: int,
    screen_h: int,
) -> bytes:
    """Animated GIF89a from ``(width, height, left, top, delay_cs)``
    frame specs; frame i is a solid block of palette color i % 4."""
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", screen_w, screen_h)
    out += bytes([0x80 | 0x01, 0x00, 0x00])  # 4-entry GCT, bg 0
    out += bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])  # GCT
    for i, (w, h, left, top, delay_cs) in enumerate(frames):
        out += bytes([0x21, 0xF9, 0x04, 0x00])  # GCE
        out += struct.pack("<H", delay_cs)
        out += bytes([0x00, 0x00])  # transparent idx, terminator
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, w, h)
        out += bytes([0x00])  # no LCT, not interlaced
        out += bytes([0x02])  # LZW min code size
        data = _lzw_solid(w * h, i % 4)
        for off in range(0, len(data), 255):
            block = data[off : off + 255]
            out += bytes([len(block)]) + block
        out += bytes([0x00])  # end of image data
    out += bytes([0x3B])
    return bytes(out)


def gif_frames(payload: bytes) -> list[dict] | None:
    """Container walk: one dict per frame —
    ``{idx, left, top, width, height, delay_cs}`` (delay from the
    preceding graphic-control extension, 0 if none) — or None when
    the payload is not a GIF / is truncated mid-structure."""
    if payload is None:
        return None
    b = bytes(payload)
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    pos = 6
    pos += 4  # screen w/h
    packed = b[pos]
    pos += 3
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))  # global color table
    frames: list[dict] = []
    delay_cs = 0
    try:
        while True:
            marker = b[pos]
            pos += 1
            if marker == 0x3B:  # trailer
                break
            if marker == 0x21:  # extension
                label = b[pos]
                pos += 1
                if label == 0xF9:  # graphic control
                    size = b[pos]
                    if size >= 4:
                        delay_cs = struct.unpack(
                            "<H", b[pos + 2 : pos + 4]
                        )[0]
                # skip this extension's sub-blocks (incl. the GCE's)
                while True:
                    n = b[pos]
                    pos += 1
                    if n == 0:
                        break
                    pos += n
            elif marker == 0x2C:  # image descriptor
                left, top, w, h = struct.unpack("<HHHH", b[pos : pos + 8])
                pos += 8
                ipacked = b[pos]
                pos += 1
                if ipacked & 0x80:
                    pos += 3 * (2 << (ipacked & 0x07))  # local color table
                pos += 1  # LZW min code size
                while True:  # image data sub-blocks
                    n = b[pos]
                    pos += 1
                    if n == 0:
                        break
                    pos += n
                frames.append(
                    {
                        "idx": len(frames),
                        "left": left,
                        "top": top,
                        "width": w,
                        "height": h,
                        "delay_cs": delay_cs,
                    }
                )
                delay_cs = 0
            else:
                return None  # unknown block: not a well-formed GIF
    except (IndexError, struct.error):
        return None  # truncated
    return frames or None


# ---------------------------------------------------------------------------
# Stdlib baseline-sequential JPEG codec (public format: ITU-T T.81 /
# JFIF). Decoder handles what real-world baseline JPEGs use — SOF0/
# SOF1, 8-bit, Huffman, interleaved scan, 4:4:4 / 4:2:2 / 4:2:0 /
# grayscale, restart markers, byte stuffing — and returns None for
# progressive (SOF2), arithmetic, 12-bit, CMYK, or non-interleaved
# multi-scan streams (the header probe still reports their dims).
# The encoder exists so tests and fixtures can stage GENUINE JFIF
# payloads with known source pixels without codec libraries; it emits
# valid baseline streams (flat quant tables, fixed-length canonical
# Huffman tables — poor compression, irrelevant here) that any JPEG
# decoder accepts.
# ---------------------------------------------------------------------------


def _make_zigzag() -> list[int]:
    """Raster index of each zigzag position (T.81 Figure A.6): walk
    the 15 anti-diagonals, alternating direction, generated rather
    than transcribed so the table cannot carry a typo."""
    out = []
    for s in range(15):
        rng = range(0, s + 1) if s % 2 else range(s, -1, -1)
        for r in rng:
            c = s - r
            if r < 8 and c < 8:
                out.append(r * 8 + c)
    return out


_ZZ = _make_zigzag()


def _idct_basis(np):
    """M[u, x] = (c(u)/2)·cos((2x+1)uπ/16), c(0)=1/√2 — spatial
    block = Mᵀ·F·M, forward DCT = M·f·Mᵀ (T.81 A.3.3)."""
    u = np.arange(8, dtype=np.float64)[:, None]
    x = np.arange(8, dtype=np.float64)[None, :]
    m = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    m[0] /= np.sqrt(2)
    return m


class _HuffTable:
    """Canonical Huffman decode table from a DHT segment's 16
    length-counts + value list, compiled to a full 16-bit PEEK table:
    entry i = (symbol, code_length) for the code that prefixes the
    16-bit window i, 0 length for invalid windows. Max JPEG code
    length is 16, so one table lookup decodes ANY symbol — no
    bit-by-bit tree walk (the classic libjpeg fast path; ~5× the
    whole-stream decode throughput in this pure-Python codec)."""

    def __init__(self, counts: list[int], values: bytes):
        sym = [0] * 65536
        ln = [0] * 65536
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                start = code << (16 - length)
                span = 1 << (16 - length)
                sym[start : start + span] = [values[k]] * span
                ln[start : start + span] = [length] * span
                code += 1
                k += 1
            code <<= 1
        self.sym = sym
        self.ln = ln


#: Compiled peek tables keyed by the DHT payload bytes (16 counts +
#: values). Real corpora overwhelmingly reuse a handful of tables
#: (libjpeg emits the T.81 Annex K set), so per-image peek-table
#: builds — the dominant cost of decoding SMALL images — amortize to
#: one build per distinct table per process. Bounded FIFO.
_HUFF_CACHE: dict[bytes, _HuffTable] = {}
_HUFF_CACHE_MAX = 64


def _huff_table_cached(dht_payload: bytes) -> _HuffTable:
    key = bytes(dht_payload)
    t = _HUFF_CACHE.get(key)
    if t is None:
        counts = list(key[:16])
        t = _HuffTable(counts, key[16:])
        if len(_HUFF_CACHE) >= _HUFF_CACHE_MAX:
            _HUFF_CACHE.pop(next(iter(_HUFF_CACHE)))
        _HUFF_CACHE[key] = t
    return t


class _BitReader:
    """MSB-first bit reader over one entropy-coded segment (stuffing
    bytes already stripped); an int accumulator refilled bytewise, so
    multi-bit reads and 16-bit Huffman peeks are O(1), not per-bit."""

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self, need: int) -> None:
        while self.nbits < need and self.pos < self.n:
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill(n)
            if self.nbits < n:
                raise ValueError("entropy data exhausted")
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode_symbol(self, table: _HuffTable) -> int:
        if self.nbits < 16:
            self._fill(16)
        avail = self.nbits
        if avail >= 16:
            peek = (self.acc >> (avail - 16)) & 0xFFFF
        elif avail > 0:
            peek = (self.acc << (16 - avail)) & 0xFFFF  # zero-padded tail
        else:
            raise ValueError("entropy data exhausted")
        length = table.ln[peek]
        if length == 0 or length > avail:
            raise ValueError("invalid Huffman code")
        self.nbits -= length
        self.acc &= (1 << self.nbits) - 1
        return table.sym[peek]


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t received bits to the signed
    coefficient value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _split_entropy_segments(b: bytes, start: int) -> list[bytes]:
    """Entropy-coded data from ``start`` to the next non-RST marker,
    destuffed (FF00→FF) and split at restart markers (FFD0-FFD7)."""
    segs, cur = [], bytearray()
    i, n = start, len(b)
    while i < n:
        c = b[i]
        if c != 0xFF:
            cur.append(c)
            i += 1
            continue
        m = b[i + 1] if i + 1 < n else 0xD9
        if m == 0xFF:
            # T.81 B.1.1.2: any number of 0xFF FILL bytes may precede
            # a marker (including RSTn) — skip them instead of
            # treating FF FF as end-of-scan (r08 ADVICE #3)
            i += 1
            continue
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # EOI or next marker: scan over
            break
    segs.append(bytes(cur))
    return segs


def jpeg_decode(payload: bytes):
    """Baseline-sequential JFIF decode to an (h, w, channels) uint8
    array (channels 1 for grayscale, 3 for YCbCr→RGB); None when the
    payload is not a decodable baseline JPEG. Pure stdlib + numpy:
    Huffman entropy decode per T.81 F.2, dequantize + dezigzag,
    vectorized 2-D IDCT, nearest-neighbor chroma upsample, JFIF
    YCbCr→RGB."""
    b = bytes(payload or b"")
    if not b.startswith(b"\xff\xd8"):
        return None
    try:
        return _jpeg_decode_impl(b)
    except (IndexError, KeyError, ValueError, ZeroDivisionError, struct.error):
        return None


def _jpeg_decode_impl(b: bytes):
    import numpy as np

    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, _HuffTable] = {}
    ac_tables: dict[int, _HuffTable] = {}
    frame = None  # (h, w, [(comp_id, hs, vs, tq), ...])
    dri = 0
    i = 2
    n = len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:  # EOI before SOS
            return None
        seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
        seg = b[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    qtables[tq] = list(seg[p : p + 64])
                    p += 64
                else:  # 16-bit entries
                    qtables[tq] = [
                        struct.unpack(">H", seg[p + 2 * k : p + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    p += 128
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                counts = list(seg[p + 1 : p + 17])
                nv = sum(counts)
                table = _huff_table_cached(seg[p + 1 : p + 17 + nv])
                (dc_tables if tc == 0 else ac_tables)[th] = table
                p += 17 + nv
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline-decodable
            if seg[0] != 8:
                return None  # 12-bit precision
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive / arithmetic / hierarchical
        elif marker == 0xDD:  # DRI
            dri = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                return None
            h_img, w_img, comps = frame
            ns = seg[0]
            if ns != len(comps) or len(comps) not in (1, 3):
                return None  # non-interleaved multi-scan or CMYK
            scan = {}
            for c in range(ns):
                cid, tt = seg[1 + 2 * c : 3 + 2 * c]
                scan[cid] = (tt >> 4, tt & 0x0F)
            segs = _split_entropy_segments(b, i + 2 + seg_len)
            return _jpeg_decode_scan(
                np, h_img, w_img, comps, scan, qtables, dc_tables, ac_tables, dri, segs
            )
        i += 2 + seg_len
    return None


def _jpeg_decode_scan(
    np, h_img, w_img, comps, scan, qtables, dc_tables, ac_tables, dri, segs
):
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax == 0 or vmax == 0:
        return None
    mcux = -(-w_img // (8 * hmax))
    mcuy = -(-h_img // (8 * vmax))
    basis = _idct_basis(np)
    planes, quants, tables = [], [], []
    for cid, hs, vs, tq in comps:
        planes.append(np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64))
        q = np.empty(64, dtype=np.float64)
        q[_ZZ] = qtables[tq]  # dezigzag the quant table to raster
        quants.append(q.reshape(8, 8))
        td, ta = scan[cid]
        tables.append((dc_tables[td], ac_tables[ta]))
    preds = [0] * len(comps)
    reader = _BitReader(segs[0])
    seg_idx = 0
    coef = np.empty(64, dtype=np.float64)
    for m in range(mcux * mcuy):
        if dri and m and m % dri == 0:
            seg_idx += 1
            reader = _BitReader(segs[seg_idx])
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, (cid, hs, vs, tq) in enumerate(comps):
            dc_t, ac_t = tables[ci]
            for by in range(vs):
                for bx in range(hs):
                    coef[:] = 0.0
                    t = reader.decode_symbol(dc_t)
                    preds[ci] += _extend(reader.read_bits(t), t)
                    coef[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = reader.decode_symbol(ac_t)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r != 15:
                                break  # EOB
                            k += 16  # ZRL
                            continue
                        k += r
                        coef[k] = _extend(reader.read_bits(s), s)
                        k += 1
                    blk = np.empty(64, dtype=np.float64)
                    blk[_ZZ] = coef  # dezigzag
                    f = blk.reshape(8, 8) * quants[ci]
                    spatial = basis.T @ f @ basis + 128.0
                    r0, c0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                    planes[ci][r0 : r0 + 8, c0 : c0 + 8] = spatial
    full = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        p = planes[ci]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h_img, :w_img])
    if len(full) == 1:
        out = full[0]
        return np.clip(np.rint(out), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


class _BitWriter:
    """MSB-first bit writer with JPEG byte stuffing (FF→FF00)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for k in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> k) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (T.81 F.1.2.3)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


#: Encoder Huffman layout: 12 DC categories as 4-bit codes, the 162
#: baseline AC symbols (EOB, ZRL, (run,size) for run 0-15 × size
#: 1-10) as 8-bit codes — fixed-length canonical tables (valid per
#: T.81 C.2: Kraft-satisfying, no all-ones code) chosen for
#: simplicity over compression; the decoder reads whatever DHT says.
_ENC_DC_SYMS = list(range(12))
_ENC_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _enc_huff(symbols: list[int], length: int) -> dict[int, tuple[int, int]]:
    return {sym: (code, length) for code, sym in enumerate(symbols)}


def _enc_dht_segment(tc: int, th: int, symbols: list[int], length: int) -> bytes:
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    return bytes([(tc << 4) | th] + counts + symbols)


def _category(v: int) -> int:
    return abs(v).bit_length()


def jpeg_encode(arr, quant: int = 4, subsampling: tuple[int, int] = (1, 1),
                restart_interval: int = 0) -> bytes:
    """Encode an (h, w, 1|3) uint8 array as a baseline-sequential
    JFIF stream. ``quant`` is the flat quantization step, clamped to
    ≥2 (smaller = closer round-trip; 4 keeps mean abs error ~1
    level; quant=1 would let an extreme block's DC difference reach
    ±2048 — past category 11, the largest T.81 baseline DC code);
    ``subsampling`` is the chroma (h, v) factor — (1, 1) = 4:4:4,
    (2, 2) = 4:2:0 via box-average downsample; ``restart_interval``
    emits DRI + RSTn markers every that many MCUs. Exists so tests
    stage genuine JPEG bytes with known source pixels — validity,
    not compression, is the goal."""
    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if ch not in (1, 3):
        raise ValueError("jpeg_encode expects 1 or 3 channels")
    sh, sv = (1, 1) if ch == 1 else subsampling
    if ch == 3:
        a = arr.astype(np.float64)
        r, g, bl = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * bl
        cb = -0.168736 * r - 0.331264 * g + 0.5 * bl + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * bl + 128.0
        raw_planes = [y, cb, cr]
        samplings = [(sh, sv), (1, 1), (1, 1)]
    else:
        raw_planes = [arr[:, :, 0].astype(np.float64)]
        samplings = [(1, 1)]
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    def _prep(plane, hs, vs):
        """Downsample to this component's grid, pad to its MCU-aligned
        size by edge replication."""
        if hs != hmax or vs != vmax:
            fx, fy = hmax // hs, vmax // vs
            ph = -(-plane.shape[0] // fy) * fy
            pw = -(-plane.shape[1] // fx) * fx
            plane = np.pad(
                plane, ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])), "edge"
            )
            plane = plane.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))
        th_, tw_ = mcuy * vs * 8, mcux * hs * 8
        return np.pad(
            plane,
            ((0, th_ - plane.shape[0]), (0, tw_ - plane.shape[1])),
            "edge",
        )

    planes = [_prep(p, hs, vs) for p, (hs, vs) in zip(raw_planes, samplings)]
    basis = _idct_basis(np)
    q = float(max(2, min(255, int(quant))))
    dc_code = _enc_huff(_ENC_DC_SYMS, 4)
    ac_code = _enc_huff(_ENC_AC_SYMS, 8)

    bw = _BitWriter()
    chunks: list[bytes] = []
    preds = [0] * len(planes)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            chunks.append(bytes(bw.out))
            chunks.append(bytes([0xFF, 0xD0 + (rst & 7)]))
            rst += 1
            bw = _BitWriter()
            preds = [0] * len(planes)
        my, mx = divmod(m, mcux)
        for ci, ((hs, vs), plane) in enumerate(zip(samplings, planes)):
            for by in range(vs):
                for bx in range(hs):
                    r0, c0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                    blk = plane[r0 : r0 + 8, c0 : c0 + 8] - 128.0
                    fco = basis @ blk @ basis.T
                    zz = np.rint(fco / q).astype(np.int64).reshape(64)[_ZZ]
                    diff = int(zz[0]) - preds[ci]
                    preds[ci] = int(zz[0])
                    t = _category(diff)
                    code, ln = dc_code[t]
                    bw.write(code, ln)
                    if t:
                        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                    run = 0
                    last_nz = max(
                        (k for k in range(1, 64) if zz[k]), default=0
                    )
                    for k in range(1, last_nz + 1):
                        v = int(zz[k])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            code, ln = ac_code[0xF0]
                            bw.write(code, ln)
                            run -= 16
                        s = _category(v)
                        code, ln = ac_code[(run << 4) | s]
                        bw.write(code, ln)
                        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                        run = 0
                    if last_nz < 63:
                        code, ln = ac_code[0x00]
                        bw.write(code, ln)
    bw.flush()
    chunks.append(bytes(bw.out))

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    qt_zz = bytes([int(q)] * 64)
    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + qt_zz)
    ncomp = len(planes)
    sof = bytearray([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci, (hs, vs) in enumerate(samplings):
        sof += bytes([ci + 1, (hs << 4) | vs, 0])
    out += seg(0xC0, bytes(sof))
    out += seg(0xC4, _enc_dht_segment(0, 0, _ENC_DC_SYMS, 4))
    out += seg(0xC4, _enc_dht_segment(1, 0, _ENC_AC_SYMS, 8))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, bytes(sos))
    for c in chunks:
        out += c
    out += b"\xff\xd9"
    return bytes(out)


def decode_array(payload: bytes):
    """Best-tier pixel decode to an (h, w, channels) uint8 array: the
    stdlib PNG codec, else the stdlib baseline-JPEG decoder; None when
    no tier can decode the payload."""
    return decode_array_tiered(payload)[0]


def decode_array_tiered(payload: bytes):
    """(array, tier) pixel decode — like ``decode_array`` but also
    names WHICH tier produced the pixels: ``'stdlib-png'`` (the
    pure-stdlib PNG codec), ``'stdlib-jpeg'`` (the pure-stdlib
    baseline-sequential JFIF decoder), or ``'none'`` with a None
    array when no tier can decode (progressive JPEG, CMYK, truncated
    payloads, non-image bytes). Downstream feature extractors carry
    the tier so a corpus datasheet can account for undecodable
    payloads instead of them vanishing into NULL features."""
    arr = png_decode(payload)
    if arr is not None:
        return arr, "stdlib-png"
    arr = jpeg_decode(payload)
    return arr, ("stdlib-jpeg" if arr is not None else "none")
