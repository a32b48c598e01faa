"""Posting-list compression codecs — pure vectorized numpy.

Re-expresses irkit's coding layer (SURVEY.md §2.8:
[pub:include/irkit/coding/varbyte.hpp], [pub:.../stream_vbyte.hpp],
delta wrappers, [pub:index/block.hpp]) as numpy array kernels that run
inside Arrow-batched UDFs — no per-row Python anywhere (BASELINE.json:15).

Codec registry contract (SURVEY.md §2.10):
    encode(np.ndarray[uint64]) -> bytes
    decode(bytes, n:int)       -> np.ndarray[uint64]

Varbyte wire format: classic LEB128 — 7 bits per byte, least-significant
group first, MSB=1 means "more bytes follow". StreamVByte wire format:
ceil(n/4) control bytes (2 bits per value, little-end first = byte length
1..4) followed by the data bytes; 32-bit values only (the block encoder
falls back to varbyte for any block whose values exceed 2^32-1).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- varbyte

_VB_THRESHOLDS = [np.uint64(1) << np.uint64(7 * i) for i in range(1, 10)]


def _vb_nbytes(v: np.ndarray) -> np.ndarray:
    """Bytes needed per value (1..10) without float log (exact for u64).
    Threshold passes stop at the array max: posting gaps and tfs are
    overwhelmingly 1-2 bytes, so this is 1-2 passes, not 9 (the kernel
    is memory-bandwidth-bound; every avoided pass is wall time)."""
    n = np.ones(v.shape, dtype=np.int64)
    if v.size == 0:
        return n
    mx = v.max()
    for t in _VB_THRESHOLDS:
        if mx < t:
            break
        n += (v >= t).astype(np.int64)
    return n


def varbyte_encode(values: np.ndarray, nbytes: np.ndarray | None = None) -> bytes:
    """LEB128 wire bytes. `nbytes` (from _vb_nbytes / np.diff of
    varbyte_byte_offsets) may be passed to avoid recomputing sizes when
    the caller already built the offsets table."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if nbytes is None:
        nbytes = _vb_nbytes(v)
    if nbytes[-1] == 1 and nbytes.max() == 1:
        # all values < 128: the wire IS the values, one cast
        return v.astype(np.uint8).tobytes()
    total = int(nbytes.sum())
    # value index of each output byte + position-within-value
    idx = np.repeat(np.arange(v.size, dtype=np.int64), nbytes)
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, nbytes)
    out = ((v[idx] >> (np.uint64(7) * pos.astype(np.uint64)))
           & np.uint64(0x7F)).astype(np.uint8)
    cont = pos < (nbytes[idx] - 1)
    out[cont] |= np.uint8(0x80)
    return out.tobytes()


def varbyte_byte_offsets(values: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum of per-value encoded byte counts (len n+1):
    lets a caller varbyte-encode one big array ONCE and slice any
    contiguous value range out of the wire bytes (the positions writer,
    operators/positions, slices its per-group streams this way)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    off = np.zeros(v.size + 1, dtype=np.int64)
    if v.size:
        np.cumsum(_vb_nbytes(v), out=off[1:])
    return off


def varbyte_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    if ends.size != n:
        raise ValueError(f"varbyte: expected {n} values, found {ends.size}")
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lens)
    contrib = ((b & np.uint8(0x7F)).astype(np.uint64)
               << (np.uint64(7) * pos.astype(np.uint64)))
    return np.add.reduceat(contrib, starts).astype(np.uint64)


# ------------------------------------------------------------ streamvbyte

_SVB_MAX = np.uint64((1 << 32) - 1)


def svb_encode(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if v.max() > _SVB_MAX:
        raise OverflowError("streamvbyte encodes 32-bit values only")
    v32 = v.astype(np.uint32)
    n = v32.size
    lens = (1 + (v32 >= 1 << 8).astype(np.int64)
            + (v32 >= 1 << 16).astype(np.int64)
            + (v32 >= 1 << 24).astype(np.int64))
    # control bytes: 2 bits per value, value i occupies bits (2*(i%4))
    codes = (lens - 1).astype(np.uint8)
    nctrl = (n + 3) // 4
    padded = np.zeros(nctrl * 4, dtype=np.uint8)
    padded[:n] = codes
    quads = padded.reshape(-1, 4)
    ctrl = (quads[:, 0] | (quads[:, 1] << 2) | (quads[:, 2] << 4)
            | (quads[:, 3] << 6)).astype(np.uint8)
    # data bytes: emit lens[i] little-endian bytes of each value
    le = v32.view(np.uint8).reshape(-1, 4)  # little-endian host assumed (x86/arm)
    total = int(lens.sum())
    idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    data = le[idx, pos]
    return ctrl.tobytes() + data.tobytes()


def svb_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    nctrl = (n + 3) // 4
    ctrl = b[:nctrl]
    data = b[nctrl:]
    shifts = np.array([0, 2, 4, 6], dtype=np.uint8)
    codes = ((ctrl[:, None] >> shifts[None, :]) & 3).reshape(-1)[:n]
    lens = codes.astype(np.int64) + 1
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    padded = np.concatenate([data, np.zeros(3, dtype=np.uint8)])
    k = np.arange(4, dtype=np.int64)
    gathered = padded[starts[:, None] + k[None, :]].astype(np.uint64)
    mask = (k[None, :] < lens[:, None])
    vals = (gathered * mask << (np.uint64(8) * k.astype(np.uint64))[None, :]).sum(
        axis=1, dtype=np.uint64)
    return vals


# --------------------------------------------------------------- binpack

def binpack_encode(values: np.ndarray) -> bytes:
    """Binary packing (frame-of-reference bit packing, the PISA/
    simdbp family's scalar form): one width byte w = bit length of the
    stream max (1..64), then all n values packed LSB-first at w bits
    each, little-endian bit order. Best for the low-entropy gap
    streams delta-gap produces: a dense posting run whose gaps are all
    1-3 packs at 2 bits/posting where LEB128's floor is 8."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    w = max(int(v.max()).bit_length(), 1)
    bits = ((v[:, None] >> np.arange(w, dtype=np.uint64)[None, :])
            & np.uint64(1)).astype(np.uint8)
    return bytes([w]) + np.packbits(bits.reshape(-1),
                                    bitorder="little").tobytes()


def binpack_decode(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    w = int(b[0])
    if not 1 <= w <= 64:
        raise ValueError(f"binpack: bad width byte {w}")
    bits = np.unpackbits(b[1:], count=n * w, bitorder="little")
    return (bits.reshape(n, w).astype(np.uint64)
            << np.arange(w, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64)


CODECS = {
    "varbyte": (varbyte_encode, varbyte_decode),
    "streamvbyte": (svb_encode, svb_decode),
    "binpack": (binpack_encode, binpack_decode),
}


# -------------------------------------------------------------- delta-gap

def delta_encode(doc_ids: np.ndarray, base: int) -> np.ndarray:
    """Strictly-increasing docIDs -> gaps, first gap relative to `base`."""
    d = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    return np.diff(d, prepend=np.uint64(base))


def delta_decode(gaps: np.ndarray, base: int) -> np.ndarray:
    return (np.cumsum(gaps.astype(np.uint64)) + np.uint64(base)).astype(np.uint64)


# ----------------------------------------------------------- block framing

def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, tf_norms: np.ndarray,
                  block_size: int, codec: str):
    """Split one posting run (docIDs strictly increasing) into blocks.

    Reference implementation of the block format: the index writers all
    go through operators/build.encode_region, which must produce the
    same bytes (tests/test_build.py checks whole indexes against this).
    Returns a list of dicts matching FIXTURES.md F5 `blocks` struct:
    (first_doc, last_doc, n, max_score, doc_bytes, tf_bytes).
    `max_score` stores the block's max *idf-free* BM25 term factor
    (tf_norm); WAND multiplies by the term idf at query time (see
    operators/build.py docstring for why this avoids a terms-join at
    build time).
    """
    enc, _ = CODECS[codec]
    out = []
    n = doc_ids.size
    for s in range(0, n, block_size):
        d = doc_ids[s:s + block_size]
        t = tfs[s:s + block_size]
        first = int(d[0])
        gaps = delta_encode(d, first)
        # streamvbyte is 32-bit: fine for gaps (bounded by DOCS_PER_SHARD)
        # and tfs; a doc-sharded build can never overflow here.
        doc_bytes = enc(gaps)
        tf_bytes = enc(t.astype(np.uint64))
        out.append({
            "first_doc": first,
            "last_doc": int(d[-1]),
            "n": int(d.size),
            "max_score": float(np.max(tf_norms[s:s + block_size])),
            "doc_bytes": doc_bytes,
            "tf_bytes": tf_bytes,
        })
    return out


def decode_blocks_batch(blocks, codec: str):
    """Decode many blocks of ONE posting run in O(1) codec calls.

    LEB128 values are self-delimiting, so the concatenated doc_bytes /
    tf_bytes of any ascending subset of a term's blocks decode in a
    SINGLE varbyte_decode call — the per-block Python decode loop was
    >90% of cold head-term query wall (a df≈N stopword at sf0.1 spans
    ~7.7k blocks; 2 codec calls beat 15.4k). Absolute docIDs come from
    one cumsum after splicing each block's leading 0-gap (first gap is
    0 relative to first_doc by construction — see encode_blocks) with
    (first_doc - previous last_doc). Non-concatenable codecs
    (streamvbyte's per-stream ctrl prefix) fall back to per-block
    decode calls but still return the fused arrays.

    Requires blocks in ascending doc order with disjoint ranges — the
    build invariant (one postings row per (term_id, shard), blocks
    emitted in (doc_id) order by the streaming group merger) that the
    query kernel's block-range searchsorted already relies on. Several
    runs may also be passed back to back (operators/merge._decode_shard
    decodes a whole shard so): the splice is int64, so the step back
    to the next run's first_doc decodes exactly too.

    Returns (docs u64[], tfs u64[], offsets i64[m+1]): block j's
    postings occupy [offsets[j]:offsets[j+1]].
    """
    m = len(blocks)
    if m == 0:
        return (np.empty(0, np.uint64), np.empty(0, np.uint64),
                np.zeros(1, np.int64))
    _, dec = CODECS[codec]
    ns = np.fromiter((int(b["n"]) for b in blocks), np.int64, m)
    firsts = np.fromiter((int(b["first_doc"]) for b in blocks),
                         np.int64, m)
    lasts = np.fromiter((int(b["last_doc"]) for b in blocks), np.int64, m)
    offs = np.zeros(m + 1, np.int64)
    np.cumsum(ns, out=offs[1:])
    ntot = int(offs[-1])
    if codec == "varbyte":
        gaps = dec(b"".join(bytes(b["doc_bytes"]) for b in blocks), ntot)
        tfs = dec(b"".join(bytes(b["tf_bytes"]) for b in blocks), ntot)
    else:
        gaps = np.concatenate([dec(bytes(b["doc_bytes"]), int(n))
                               for b, n in zip(blocks, ns)])
        tfs = np.concatenate([dec(bytes(b["tf_bytes"]), int(n))
                              for b, n in zip(blocks, ns)])
    adj = gaps.astype(np.int64)
    starts = offs[:-1]
    adj[starts[0]] = firsts[0]
    if m > 1:
        adj[starts[1:]] = firsts[1:] - lasts[:-1]
    docs = np.cumsum(adj).astype(np.uint64)
    return docs, tfs, offs


def decode_block(block, codec: str):
    """blocks struct row -> (doc_ids uint64[], tfs uint64[])."""
    _, dec = CODECS[codec]
    n = block["n"] if isinstance(block, dict) else block.n
    first = block["first_doc"] if isinstance(block, dict) else block.first_doc
    db = block["doc_bytes"] if isinstance(block, dict) else block.doc_bytes
    tb = block["tf_bytes"] if isinstance(block, dict) else block.tf_bytes
    gaps = dec(bytes(db), n)
    # first gap is 0 relative to first_doc by construction
    docs = delta_decode(gaps, first)
    tfs = dec(bytes(tb), n)
    return docs, tfs
