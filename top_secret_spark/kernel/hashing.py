"""Vectorized char-n-gram hashing shared by langid, perplexity, and
fingerprinting.

Everything is numpy over a single concatenated byte buffer per Arrow
batch — no per-row Python loops in the hot path.  Hashes are a
deterministic polynomial over the text bytes, so results are identical
across partitions, partitionings, retries, and cluster sizes (a
requirement for resumable checkpoints and the F1 gate).
"""

from __future__ import annotations

import numpy as np

MASK32 = np.uint64(0xFFFFFFFF)
MULT = np.uint64(131)
# distinct seed per n-gram order so all orders share one bucket space
def _n_seed(n: int) -> np.uint64:
    return np.uint64((0x9E3779B1 * n * n + 0x85EBCA77 * n + 0xC2B2AE3D) & 0xFFFFFFFF)


def encode_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate texts → (byte array, per-doc lengths).  None → empty."""
    bufs = [(t or "").encode("utf-8", "replace") for t in texts]
    lengths = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    return data, lengths


def _bucketize(h: np.ndarray, buckets: int) -> np.ndarray:
    """h mod buckets, via bitwise AND when buckets is a power of two
    (identical result; uint64 division is ~20x a masked AND)."""
    if buckets & (buckets - 1) == 0:
        h &= np.uint64(buckets - 1)
        return h
    return h % np.uint64(buckets)


def ngram_hashes_multi(
    data: np.ndarray, lengths: np.ndarray, orders, buckets: int
) -> list[tuple[np.ndarray, np.ndarray]]:
    """n-gram bucket ids for SEVERAL n-gram orders in one pass →
    [(doc_idx, bucket), ...] aligned with ``orders``.

    The byte→uint64 conversion and the per-byte doc-id expansion are
    computed ONCE and shared across orders, and the polynomial loop runs
    in place (h *= / += / &=) — the out-of-place form allocated two
    buffer-sized temporaries per byte of n-gram order, which dominated
    the whole langid stage at scale.  Results are bit-identical to the
    original formulation.
    """
    total = int(lengths.sum())
    out: list[tuple[np.ndarray, np.ndarray]] = []
    arr = None
    ndocs = len(lengths)
    for n in orders:
        if total < n:
            out.append((np.empty(0, np.int64), np.empty(0, np.int64)))
            continue
        if arr is None:
            arr = data.astype(np.uint64)
        h = np.full(total - n + 1, _n_seed(n), dtype=np.uint64)
        for i in range(n):
            h *= MULT
            h += arr[i : total - n + 1 + i]
            h &= MASK32
        # valid positions (n-grams fully inside one doc) computed
        # ARITHMETICALLY: doc i contributes v_i = max(L_i - n + 1, 0)
        # valid positions starting at its buffer offset, and the m-th
        # valid element overall sits at m + B_i where B_i = sum over
        # preceding docs of min(n-1, L_k) — one repeat + one add + one
        # gather instead of materializing a byte-level doc-id array and
        # two buffer-sized boolean compares/gathers.
        v = np.maximum(lengths - (n - 1), 0)
        skipped = np.minimum(lengths, n - 1)
        b = np.zeros(ndocs, dtype=np.int64)
        np.cumsum(skipped[:-1], out=b[1:])
        d = np.repeat(np.arange(ndocs, dtype=np.int64), v)
        idx = np.arange(len(d), dtype=np.int64) + b[d]
        hv = _bucketize(h[idx], buckets)
        out.append((d, hv.astype(np.int64)))
    return out


def ngram_hashes(
    data: np.ndarray, lengths: np.ndarray, n: int, buckets: int
) -> tuple[np.ndarray, np.ndarray]:
    """All n-gram bucket ids in one pass → (doc_idx, bucket) arrays.

    N-grams crossing document boundaries are masked out by comparing the
    doc id of an n-gram's first and last byte.
    """
    return ngram_hashes_multi(data, lengths, (n,), buckets)[0]


def raw_ngram_hashes(data: np.ndarray, n: int, buckets: int) -> np.ndarray:
    """Unmasked n-gram bucket ids at every start position 0..L-n (no
    document-boundary filtering — callers align and mask themselves)."""
    total = len(data)
    if total < n:
        return np.empty(0, np.int64)
    arr = data.astype(np.uint64)
    h = np.full(total - n + 1, _n_seed(n), dtype=np.uint64)
    for i in range(n):
        h *= MULT
        h += arr[i : total - n + 1 + i]
        h &= MASK32
    return _bucketize(h, buckets).astype(np.int64)


def pair_jaccard(
    texts_a,
    texts_b,
    shingle_k: int = 5,
    buckets: int = 1 << 32,
    block: int = 512,
) -> np.ndarray:
    """Exact char-shingle Jaccard for aligned text PAIRS, vectorized:
    encode a block of texts once, hash all its shingles once, then
    compute per-pair |A∩B| / |A∪B| via sorted (pair, shingle) arrays —
    no per-text encode calls, no Python sets.  Work proceeds in
    ``block``-pair chunks so the sort/gather arrays stay cache-resident
    regardless of Arrow batch size (identical results; pairs are
    independent).  Texts are normalized like the MinHash kernel
    (lowercase, Unicode-whitespace collapse).  Two empty shingle sets →
    1.0 (identical), one empty → 0.0."""
    n = len(texts_a)
    if n != len(texts_b):
        raise ValueError(f"pair_jaccard: len mismatch {n} != {len(texts_b)}")
    if n == 0:
        return np.empty(0, dtype=np.float64)
    if n > block:
        out = np.empty(n, dtype=np.float64)
        for s in range(0, n, block):
            out[s : s + block] = pair_jaccard(
                texts_a[s : s + block], texts_b[s : s + block],
                shingle_k, buckets, block,
            )
        return out
    normed = [" ".join((t or "").lower().split()) for t in (*texts_a, *texts_b)]
    data, lengths = encode_batch(normed)
    doc_idx, h = ngram_hashes(data, lengths, shingle_k, buckets)
    inter = np.zeros(n, dtype=np.int64)
    tot = np.zeros(n, dtype=np.int64)
    if len(h):
        # ONE single-key radix-friendly sort instead of the two 2-key
        # lexsorts this replaced (each lexsort = two argsorts + three
        # gathers; the pair was ~4x this whole function's useful work).
        # Key = (pair, shingle, side) packed into uint64: a sorted run
        # of equal (pair, shingle) then holds side-A entries first,
        # side-B last, so per-side presence (the per-doc dedup) and the
        # intersection both read off the run's first/last element.
        hbits = int(buckets - 1).bit_length()
        pbits = max(int(n - 1).bit_length(), 1)
        if hbits + pbits + 1 <= 64:
            # doc i is pair i's A side, doc n+i its B side
            pair = doc_idx % n
            side = (doc_idx >= n).astype(np.uint64)
            key = (
                (pair.astype(np.uint64) << np.uint64(hbits + 1))
                | (h.astype(np.uint64) << np.uint64(1))
                | side
            )
            key.sort()
            ps = key >> np.uint64(1)  # (pair, shingle), side dropped
            starts = np.ones(len(ps), dtype=bool)
            starts[1:] = ps[1:] != ps[:-1]
            run_start = np.flatnonzero(starts)
            run_end = np.concatenate([run_start[1:], [len(ps)]]) - 1
            run_pair = (ps[run_start] >> np.uint64(hbits)).astype(np.int64)
            has_a = (key[run_start] & np.uint64(1)) == 0
            has_b = (key[run_end] & np.uint64(1)) == 1
            tot = np.bincount(
                run_pair,
                weights=has_a.astype(np.int64) + has_b.astype(np.int64),
                minlength=n,
            ).astype(np.int64)
            inter = np.bincount(
                run_pair[has_a & has_b], minlength=n
            ).astype(np.int64)
        else:
            # key doesn't fit 64 bits (huge bucket space): lexsort path
            order = np.lexsort((h, doc_idx))
            d_s, h_s = doc_idx[order], h[order]
            keep = np.ones(len(h_s), dtype=bool)
            keep[1:] = (d_s[1:] != d_s[:-1]) | (h_s[1:] != h_s[:-1])
            d_u, h_u = d_s[keep], h_s[keep]
            pair = d_u % n
            order2 = np.lexsort((h_u, pair))
            p2, h2 = pair[order2], h_u[order2]
            both = (p2[1:] == p2[:-1]) & (h2[1:] == h2[:-1])
            inter = np.bincount(p2[1:][both], minlength=n)
            tot = np.bincount(p2, minlength=n)  # |A| + |B| per pair
    union = tot - inter
    return np.where(union > 0, inter / np.maximum(union, 1), 1.0)


def embed_texts(
    texts, dim: int = 64, orders=(3, 4, 5)
) -> np.ndarray:
    """Deterministic hashed char-n-gram embeddings → float32 (n, dim),
    L2-normalized rows (all-zero rows for shingle-less texts stay
    zero).  The hashing trick: each n-gram hashes to a (bucket, sign)
    pair — signed counts decorrelate collisions (Weinberger et al.
    2009) — accumulated via ONE bincount over flat (doc, bucket)
    indices per order, no per-text loops.  Texts normalize like the
    MinHash kernel, so identical-content texts get identical vectors
    (cos 1.0).  ``dim`` must be a power of two (bitwise bucketing)."""
    if dim & (dim - 1):
        raise ValueError(f"dim must be a power of two, got {dim}")
    n = len(texts)
    acc = np.zeros((n, dim), dtype=np.float64)
    if n == 0:
        return acc.astype(np.float32)
    normed = [" ".join((t or "").lower().split()) for t in texts]
    data, lengths = encode_batch(normed)
    for d, b in ngram_hashes_multi(data, lengths, orders, 2 * dim):
        if not len(d):
            continue
        sign = (b & 1).astype(np.float64) * 2.0 - 1.0
        flat = d * dim + (b >> 1)
        acc += np.bincount(flat, weights=sign, minlength=n * dim).reshape(
            n, dim
        )
    norms = np.linalg.norm(acc, axis=1, keepdims=True)
    np.divide(acc, norms, out=acc, where=norms > 0)
    return acc.astype(np.float32)
