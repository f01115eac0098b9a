"""Baseline JPEG codec (grayscale, from scratch: numpy + stdlib) — the
second REAL decoder for the multimodal column (north-star X4), upgrading
``image/jpeg`` from a deterministic stand-in to actual entropy-coded DCT
bytes, exactly as functions/png.py did for ``image/png`` in round 2.

Scope: ITU-T T.81 baseline sequential DCT, 8-bit, single (luma) component,
no restart intervals, no progressive/arithmetic modes. The ENCODER emits a
spec-valid JFIF stream with optimized Huffman tables derived from the
actual symbol statistics (Annex K.2's two-least-frequent merge + the
Annex K.3 BITS-length adjustment — what ``jpegtran -optimize`` produces);
the DECODER is general within the baseline profile: it parses whatever
DQT/DHT/SOF0/SOS the stream carries, huffman-decodes the MCUs with DC
prediction, dequantizes, de-zigzags, and applies the IDCT as one batched
matmul over all blocks.

Lossiness contract: unlike PNG, decode(encode(x)) != x. What IS exact:
per 8x8 block the reconstructed mean differs from the source mean by at
most quant[0]/2 DCT units = 1 gray level (DC quantization), so image-mean
statistics survive the roundtrip within ~1-2 levels — which is what the
q49 driver gate bounds. Pixel-level fidelity is bounded in tests by PSNR.

Everything here derives from the public JPEG specification (ITU-T T.81 /
ISO 10918-1) and its Annex K reference tables.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

#: Annex K.1 luminance quantization table (quality ~50), row-major.
STD_LUMA_QUANT = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)


def _zigzag_order() -> np.ndarray:
    """The 64 (row, col) -> scan-position permutation of T.81 Figure 5:
    anti-diagonals, odd sums walking down-left, even sums up-right."""
    coords = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda p: (p[0] + p[1], p[0] if (p[0] + p[1]) % 2 else -p[0]),
    )
    flat = np.empty(64, dtype=np.int64)
    for pos, (r, c) in enumerate(coords):
        flat[pos] = r * 8 + c
    return flat


ZIGZAG = _zigzag_order()  # scan position -> flat block index
UNZIGZAG = np.argsort(ZIGZAG)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix; C @ block @ C.T gives exactly the
    T.81 A.3.3 FDCT coefficients (and C.T @ coef @ C the IDCT)."""
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16) / 2.0
    c[0, :] /= np.sqrt(2.0)
    return c


DCT = _dct_matrix()


def _bit_size(v: int) -> int:
    """T.81 'category': number of bits to represent |v| (0 for 0)."""
    return int(abs(v)).bit_length()


#: powers of two for the vectorized bit_length (np.searchsorted 'right'
#: over [1, 2, 4, ...] maps magnitude m in [2^(k-1), 2^k) to exactly k,
#: and 0 to 0 — int.bit_length, batched).
_POW2 = 1 << np.arange(0, 63, dtype=np.int64)


def _bit_sizes(mag: np.ndarray) -> np.ndarray:
    """Vectorized :func:`_bit_size` over non-negative int64 magnitudes."""
    return np.searchsorted(_POW2, mag, side="right").astype(np.int64)


# ---------------------------------------------------------------------------
# Huffman table construction (encoder side) — T.81 Annex K.2 / K.3
# ---------------------------------------------------------------------------


def _build_huffman(freq_in) -> tuple[list[int], list[int]]:
    """Symbol frequencies (dict or dense counts array indexed by symbol)
    -> (BITS[1..16], HUFFVAL) per Annex K.2: merge the two least-frequent
    entries (ties to the larger symbol) tracking code sizes through a
    chain array, reserve one slot via pseudo-symbol 256, then Annex K.3's
    adjustment folds code lengths > 16 back down.

    Round-19 formulation: the K.2 merge loop IS heap order — each step
    takes the two smallest (freq, largest-symbol-first) entries and
    re-inserts their sum — so a ``heapq`` of ``(freq, -symbol)`` tuples
    replaces the per-step 257-entry argmin scan (round 18's vectorized
    scan was still ~2 numpy passes per merge x ~30 merges per table x 2
    tables per frame). Tie rule preserved exactly: tuple order pops the
    smallest frequency with the LARGEST symbol first, which is what the
    old ``least``'s last-index-of-min returned; pinned by the
    byte-identity tests."""
    import heapq

    if isinstance(freq_in, dict):
        items = freq_in.items()
    else:
        nz = np.nonzero(freq_in)[0]
        items = [(int(s), int(freq_in[s])) for s in nz]
    codesize = [0] * 257
    others = [-1] * 257
    heap = [(f, -s) for s, f in items if f > 0]
    heap.append((1, -256))  # reserves the all-ones code (never a symbol)
    heapq.heapify(heap)
    while len(heap) > 1:
        f1, nv1 = heapq.heappop(heap)
        f2, nv2 = heapq.heappop(heap)
        v1, v2 = -nv1, -nv2
        heapq.heappush(heap, (f1 + f2, nv1))
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1

    bits = [0] * 33
    for v in range(257):
        if codesize[v]:
            bits[codesize[v]] += 1
    # Annex K.3: fold lengths > 16 down by moving a leaf pair up
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    # drop the reserved slot from the longest used length
    i = 16
    while i > 0 and bits[i] == 0:
        i -= 1
    if i > 0:
        bits[i] -= 1
    # HUFFVAL: active symbols by (codesize, symbol) — sorting only the
    # ~20-60 active symbols, not all 256 (the old full-range sort was
    # ~25% of table-build time)
    active = [v for v in range(256) if codesize[v]]
    active.sort(key=lambda s: (codesize[s], s))
    return bits[1:17], active


def _canonical_codes(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C code assignment: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _blocks_from_gray(pixels: bytes, width: int, height: int) -> tuple[np.ndarray, int, int]:
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bw, bh = -(-width // 8), -(-height // 8)
    padded = np.pad(img, ((0, bh * 8 - height), (0, bw * 8 - width)), mode="edge")
    blocks = (
        padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(bh * bw, 8, 8)
    )
    return blocks.astype(np.float64) - 128.0, bw, bh


def _checked_quant(quant) -> np.ndarray:
    """A caller's quant table as int32, or ValueError: it must be 8x8 with
    entries in 1..255. A 0 divides by zero when quantizing, and the DQT
    segment declares 8-bit precision, so >255 would wrap silently."""
    q = np.asarray(quant)
    if q.shape != (8, 8) or not ((q >= 1) & (q <= 255)).all():
        raise ValueError(f"quant table must be 8x8 with entries in 1..255: {q!r}")
    return q.astype(np.int32)


def encode_jpeg_gray(
    pixels: bytes, width: int, height: int, quant: np.ndarray | None = None
) -> bytes:
    """Row-major 8-bit grayscale -> baseline JFIF bytes (one luma component,
    optimized Huffman tables, no subsampling question to answer).

    Round-19 formulation of the entropy stage (guide §4.2 — the per-block
    Python RLE + per-symbol ``_BitWriter.write`` loop was the remaining
    half of encode time after round 18's Huffman-build fix): the (run,
    size) decomposition, symbol frequencies, token stream, bit packing
    and 0xFF byte stuffing are all whole-array numpy. Byte-identical to
    the loop formulation by construction (same symbols in the same order,
    same 1-padding, same stuffing) and pinned by the reference-frame
    identity test. The DCT stays the 3-operand ``einsum``: a BLAS
    ``DCT @ B @ DCT.T`` differs by <1 ulp and the synthetic gradient
    fixtures land quantization boundaries EXACTLY on .5, where that ulp
    flips ``np.round`` (measured: ~2 coefficients per frame across the
    whole fixture family) — so the faster contraction would change
    encoded bytes."""
    q = STD_LUMA_QUANT if quant is None else _checked_quant(quant)
    blocks, bw, bh = _blocks_from_gray(pixels, width, height)
    coef = np.einsum("ij,njk,lk->nil", DCT, blocks, DCT)
    quantized = np.round(coef / q).astype(np.int64)
    zz = quantized.reshape(-1, 64)[:, ZIGZAG]
    n_blocks = zz.shape[0]

    # --- vectorized (run, size) decomposition -----------------------------
    dc = zz[:, 0]
    diffs = np.diff(dc, prepend=np.int64(0))  # prepend 0: first block's pred
    dc_sizes = _bit_sizes(np.abs(diffs))

    ac = zz[:, 1:]  # (n_blocks, 63), zigzag order
    rows, cols = np.nonzero(ac)  # row-major == per-block zigzag order
    vals = ac[rows, cols]
    run = np.empty(len(rows), dtype=np.int64)
    if len(rows):
        first = np.ones(len(rows), dtype=bool)
        first[1:] = rows[1:] != rows[:-1]  # first nonzero of its block
        run[first] = cols[first]
        nf = ~first
        run[nf] = cols[nf] - np.concatenate(([0], cols[:-1]))[np.flatnonzero(nf)] - 1
    nzrl = run >> 4  # ZRL count before each nonzero (run = 16*z + r, r<=15)
    ac_sizes = _bit_sizes(np.abs(vals))
    syms = ((run & 15) << 4) | ac_sizes

    # EOB per block: last nonzero zigzag position < 62 (or all-zero AC)
    last_nz = np.full(n_blocks, -1, dtype=np.int64)
    if len(rows):
        last_idx = np.flatnonzero(np.concatenate((rows[1:] != rows[:-1], [True])))
        last_nz[rows[last_idx]] = cols[last_idx]
    eob_blocks = np.flatnonzero(last_nz < 62)

    dc_counts = np.bincount(dc_sizes, minlength=17)
    ac_counts = np.bincount(syms, minlength=256)
    ac_counts[0xF0] += int(nzrl.sum())
    ac_counts[0x00] += len(eob_blocks)

    dc_bits, dc_vals = _build_huffman(dc_counts)
    ac_bits, ac_vals = _build_huffman(ac_counts)
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)
    dc_code_a = np.zeros(17, dtype=np.int64)
    dc_len_a = np.zeros(17, dtype=np.int64)
    for s, (c, ln) in dc_codes.items():
        dc_code_a[s], dc_len_a[s] = c, ln
    ac_code_a = np.zeros(256, dtype=np.int64)
    ac_len_a = np.zeros(256, dtype=np.int64)
    for s, (c, ln) in ac_codes.items():
        ac_code_a[s], ac_len_a[s] = c, ln

    # --- token stream in emission order -----------------------------------
    # Sort key (block, slot, rank): DC at slot -1 (code rank 0, magnitude
    # rank 1); an AC nonzero at zigzag slot c emits its ZRLs (ranks 0..z-1),
    # code (rank 8), magnitude (rank 9) at slot c; EOB at slot 63.
    tb, ts, tr, tv, tl = [], [], [], [], []

    tb.append(np.arange(n_blocks))
    ts.append(np.full(n_blocks, -1, dtype=np.int64))
    tr.append(np.zeros(n_blocks, dtype=np.int64))
    tv.append(dc_code_a[dc_sizes])
    tl.append(dc_len_a[dc_sizes])

    dm = np.flatnonzero(dc_sizes)
    dc_mag = np.where(diffs >= 0, diffs, diffs + _POW2[dc_sizes] - 1)
    tb.append(dm)
    ts.append(np.full(len(dm), -1, dtype=np.int64))
    tr.append(np.ones(len(dm), dtype=np.int64))
    tv.append(dc_mag[dm])
    tl.append(dc_sizes[dm])

    if len(rows):
        z_idx = np.repeat(np.arange(len(rows)), nzrl)
        z_rank = np.arange(len(z_idx)) - np.repeat(
            np.concatenate(([0], np.cumsum(nzrl)[:-1])), nzrl
        )
        tb.append(rows[z_idx])
        ts.append(cols[z_idx])
        tr.append(z_rank)
        tv.append(np.full(len(z_idx), ac_code_a[0xF0], dtype=np.int64))
        tl.append(np.full(len(z_idx), ac_len_a[0xF0], dtype=np.int64))

        tb.append(rows)
        ts.append(cols)
        tr.append(np.full(len(rows), 8, dtype=np.int64))
        tv.append(ac_code_a[syms])
        tl.append(ac_len_a[syms])

        ac_mag = np.where(vals >= 0, vals, vals + _POW2[ac_sizes] - 1)
        tb.append(rows)
        ts.append(cols)
        tr.append(np.full(len(rows), 9, dtype=np.int64))
        tv.append(ac_mag)
        tl.append(ac_sizes)

    tb.append(eob_blocks)
    ts.append(np.full(len(eob_blocks), 63, dtype=np.int64))
    tr.append(np.zeros(len(eob_blocks), dtype=np.int64))
    tv.append(np.full(len(eob_blocks), ac_code_a[0x00], dtype=np.int64))
    tl.append(np.full(len(eob_blocks), ac_len_a[0x00], dtype=np.int64))

    order = np.lexsort((np.concatenate(tr), np.concatenate(ts), np.concatenate(tb)))
    tv = np.concatenate(tv)[order]
    tl = np.concatenate(tl)[order]

    # --- bit packing + byte stuffing --------------------------------------
    total = int(tl.sum())
    starts = np.concatenate(([0], np.cumsum(tl)[:-1]))
    idx = np.repeat(np.arange(len(tl)), tl)
    within = np.arange(total) - np.repeat(starts, tl)
    bit_arr = ((tv[idx] >> (tl[idx] - 1 - within)) & 1).astype(np.uint8)
    pad = (-total) % 8
    if pad:  # 1-padding per spec (B.1.1.5), as _BitWriter.flush did
        bit_arr = np.concatenate([bit_arr, np.ones(pad, dtype=np.uint8)])
    packed = np.packbits(bit_arr)
    ff = np.flatnonzero(packed == 0xFF)
    if len(ff):  # byte stuffing: 0x00 after every 0xFF, in stream order
        packed = np.insert(packed, ff + 1, np.uint8(0))
    entropy = packed.tobytes()

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    zz_q = q.reshape(-1)[ZIGZAG]
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + np.asarray(zz_q, dtype=np.uint8).tobytes()
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, height, width, 1) + b"\x01\x11\x00"
    for cls, (bits, vals_) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals_), cls << 4) + bytes(bits) + bytes(vals_)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _extend(bits: int, size: int) -> int:
    """T.81 F.12 sign extension of a magnitude-category value."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


@functools.lru_cache(maxsize=512)
def _prefix_luts(bits: bytes, vals: bytes) -> tuple[bytes, bytes]:
    """One DHT table's ``(BITS, HUFFVAL)`` bytes -> 16-bit prefix lookup
    tables ``(length, symbol)``. Entry ``i`` covers every 16-bit window
    whose leading bits spell a code; length 0 marks an unassigned prefix
    (invalid code). Prefix-freeness makes the mapping unambiguous, so each
    symbol costs one index instead of a per-bit walk. Returned as
    ``bytes``: indexing bytes yields ints at C speed.

    Cached per DHT byte pair: optimized tables repeat across frames (the
    2,000 gradient frames of the curation workload carry 128 distinct DC
    and 238 distinct AC tables), and building both 64 KB tables was a
    fixed ~35 us per table. The bound sits above that working set, since
    an LRU smaller than a cyclic working set never hits, and caps a
    Python worker's cache at 64 MB."""
    lut_len = bytearray(65536)
    lut_sym = bytearray(65536)
    for sym, (code, ln) in _canonical_codes(list(bits), list(vals)).items():
        start = code << (16 - ln)
        end = (code + 1) << (16 - ln)
        lut_len[start:end] = bytes([ln]) * (end - start)
        lut_sym[start:end] = bytes([sym]) * (end - start)
    return bytes(lut_len), bytes(lut_sym)


#: Right shifts that turn a 24-bit word (three entropy bytes) into the
#: 16-bit window starting at bit offset 0..7 of its first byte.
_PEEK_SHIFTS = np.arange(8, 0, -1, dtype=np.int64)

#: The peek list is rebuilt over this many entropy bytes at a time.
_WINDOW_BYTES = 4096

#: The most entropy bits one block can consume before a check fires, so a
#: refill at a block boundary covers the whole block. DC: a code of <= 16
#: bits, then a magnitude of <= 16 (a larger size shifts by a negative
#: count and raises before it consumes anything). AC: every symbol read
#: either ends the block (EOB), raises, or advances k by >= 1 (a ZRL by
#: 16) from 1 while k < 64, so a block reads <= 63 AC symbols, EOB
#: included, each a code of <= 16 bits plus a magnitude of <= 15. That
#: holds on a corrupt stream too: 16 + 16 + 63 * (16 + 15) = 1985.
_BLOCK_BITS = 16 + 16 + 63 * (16 + 15)


def _peek_window(stream: np.ndarray, start: int, n: int) -> list[int]:
    """The 16-bit windows at every bit offset of ``stream[start:start + n]``,
    in bit order; ``stream`` ends in >= 2 zero bytes. Each byte's 24-bit
    word ``b0 << 16 | b1 << 8 | b2`` holds its 8 windows, one right shift
    each. A list, because indexing a list beats numpy scalar extraction
    once per symbol."""
    c = stream[start : start + n + 2].astype(np.int64)
    w24 = (c[:-2] << 16) | (c[1:-1] << 8) | c[2:]
    return ((w24[:, None] >> _PEEK_SHIFTS) & 0xFFFF).reshape(-1).tolist()


def decode_jpeg_gray(data: bytes) -> tuple[bytes, int, int]:
    """Baseline JFIF bytes -> (row-major grayscale pixels, width, height).

    General within the baseline single-component profile: tables are taken
    from the stream (any spec-valid DQT/DHT layout), unknown APPn/COM
    segments are skipped by their length fields.

    The entropy decode reads one symbol per lookup: the 16 bits at the
    read position index the DHT table's cached prefix tables
    (:func:`_prefix_luts`). Those 16-bit windows come from
    :func:`_peek_window` over a bounded window of the entropy bytes,
    rebuilt only at block boundaries, so memory is O(window + blocks),
    not O(compressed bits). The IDCT is one batched ``DCT.T @ coef @ DCT``
    matmul over all blocks; it matches the encoder's ``einsum`` within an
    ulp, and decoded pixels are pinned by golden md5s (no IDCT value of
    the fixture family sits on a rounding tie). The encoder keeps its
    ``einsum`` because its quantizer does hit exact ties (see
    :func:`encode_jpeg_gray`)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[bytes, bytes]] = {}  # prefix tables
    width = height = None
    dc_id = ac_id = 0
    entropy_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0xF
                off += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[off : off + 64], dtype=np.uint8).astype(np.int32)
                    off += 64
                else:
                    tbl = np.frombuffer(seg[off : off + 128], dtype=">u2").astype(np.int32)
                    off += 128
                quant[tq] = tbl[UNZIGZAG].reshape(8, 8)
        elif marker == 0xC0:  # SOF0 baseline
            height, width = struct.unpack(">HH", seg[1:5])
            if seg[5] != 1:
                raise ValueError("jpeg: only single-component baseline supported")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("jpeg: non-baseline SOF not supported")
        elif marker == 0xDD:  # DRI: restart interval
            # A non-zero interval means RSTn markers punctuate the entropy
            # stream and DC prediction resets at each — this decoder's
            # un-stuff + single-run DC chain would silently decode such a
            # file to garbage (round-5 verdict #5). Refuse loudly.
            if struct.unpack(">H", seg[:2])[0] != 0:
                raise ValueError(
                    "jpeg: restart markers (DRI interval != 0) not supported"
                )
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0xF
                nvals = sum(seg[off + 1 : off + 17])
                huff[(tc, th)] = _prefix_luts(
                    bytes(seg[off + 1 : off + 17]),
                    bytes(seg[off + 17 : off + 17 + nvals]),
                )
                off += 17 + nvals
        elif marker == 0xDA:  # SOS
            dc_id, ac_id = seg[2] >> 4, seg[2] & 0xF
            entropy_start = pos + seg_len
            break
        pos += seg_len
    if entropy_start is None or width is None:
        raise ValueError("jpeg: missing SOS/SOF0")

    # entropy segment runs to EOI; un-stuff 0xFF00 -> 0xFF
    end = data.find(b"\xff\xd9", entropy_start)
    if end == -1:
        end = len(data)
    entropy = data[entropy_start:end].replace(b"\xff\x00", b"\xff")

    q = quant[0]
    bw, bh = -(-width // 8), -(-height // 8)
    n_blocks = bw * bh
    zz = np.zeros((n_blocks, 64), dtype=np.int64)

    dc_len_l, dc_sym_l = huff[(0, dc_id)]
    ac_len_l, ac_sym_l = huff[(1, ac_id)]
    total = 8 * len(entropy)
    # three zero bytes: the windows at bit offsets up to ``total`` (a read
    # there is legal: the exhaustion checks fire only past it) see zeros
    stream = np.frombuffer(entropy + bytes(3), dtype=np.uint8)
    # ``p`` is the read position within the current peek window, which
    # starts at stream bit ``base``; ``left`` is ``total`` in window terms
    base = p = 0
    left = total
    refill_at = -1
    prev_dc = 0
    for b in range(n_blocks):
        if p > left:
            raise ValueError("jpeg: entropy data exhausted")
        if p > refill_at:  # fewer than _BLOCK_BITS windows left: refill
            start = (base + p) >> 3
            p += base - 8 * start
            base = 8 * start
            left = total - base
            peek_l = _peek_window(stream, start, _WINDOW_BYTES)
            # the last window reaches past ``total``: no further refill
            last = start + _WINDOW_BYTES >= len(stream) - 2
            refill_at = left if last else len(peek_l) - _BLOCK_BITS
        e = peek_l[p]
        ln = dc_len_l[e]
        if ln == 0:
            raise ValueError("jpeg: invalid huffman code")
        s = dc_sym_l[e]
        p += ln
        if s:
            if p > left:
                raise ValueError("jpeg: entropy data exhausted")
            prev_dc += _extend(peek_l[p] >> (16 - s), s)
            p += s
        zz[b, 0] = prev_dc
        k = 1
        while k < 64:
            if p > left:
                raise ValueError("jpeg: entropy data exhausted")
            e = peek_l[p]
            ln = ac_len_l[e]
            if ln == 0:
                raise ValueError("jpeg: invalid huffman code")
            sym = ac_sym_l[e]
            p += ln
            if sym == 0x00:  # EOB
                break
            run, size = sym >> 4, sym & 0xF
            if size == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                raise ValueError("jpeg: invalid AC symbol")
            k += run
            if k >= 64:
                raise ValueError("jpeg: AC run past block end")
            if p > left:
                raise ValueError("jpeg: entropy data exhausted")
            zz[b, k] = _extend(peek_l[p] >> (16 - size), size)
            p += size
            k += 1
    pos = base + p
    if pos > total:
        raise ValueError("jpeg: entropy data exhausted")
    # Strict tail check (round-18 ADVICE): after the declared block count,
    # only sub-byte 1-padding may remain. A truncated/corrupt stream whose
    # phantom symbols happened to complete the block grid within the data
    # would otherwise pass the pos<=total check above silently.
    if total - pos >= 8:
        raise ValueError("jpeg: trailing entropy data after final block")
    pad = (1 << (total - pos)) - 1  # the last byte's unread low bits
    if pad and entropy[-1] & pad != pad:
        raise ValueError("jpeg: invalid entropy padding (expected 1-bits)")

    coef = (zz[:, UNZIGZAG].reshape(n_blocks, 8, 8)) * q[None, :, :]
    spatial = DCT.T @ coef.astype(np.float64) @ DCT
    img = (
        spatial.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )
    img = np.clip(np.round(img + 128.0), 0, 255).astype(np.uint8)
    return img[:height, :width].tobytes(), width, height
