"""Compute kernels (no Spark imports) — unit-testable standalone.

These re-express the reference's per-shingle scalar loops
(kritoke/lexis-minhash, Crystal) as batched array programs.  All uint64
arithmetic wraps mod 2**64 exactly like Crystal's ``&*``/``&+`` operators
(NumPy C-semantics overflow, warnings suppressed).

Two implementations of the hash kernels, bit-identical by construction
(C unsigned arithmetic IS mod 2^64) and cross-checked in the tests:
- the fused C kernels in ``kernels_native`` (rolling hash and unweighted
  multiply-shift + min-reduce), used whenever ``kernels_native.load()``
  succeeds;
- the direct NumPy uint64 path below: the fallback on hosts without a C
  compiler (or with ``LEXIS_NATIVE_KERNEL=0``) and the test reference.
  Weighted MinHash and the SimHash mix always run here.

Parity citations (semantics only — the vectorized formulation is new):
- rolling k-shingle polynomial hash: engine/rolling.cr:44-62 (P=31, mod 2^64)
- multiply-shift MinHash min-reduce: engine/signature.cr:7-30
- weighted MinHash update: engine.cr:170-186, 203-256
- LSH band fold: engine.cr:426-456 (``combined = (combined << 7) ^ value``)
- little-endian signature blobs: engine/serialize.cr:5-41
- zero-signature gates: engine/signature.cr:12-16
- detection probability: engine.cr:460-464

Batch layout convention: a batch of N documents is represented as
``(hashes_concat: uint64[total], counts: int64[N])`` — the concatenation of
each document's shingle-hash stream plus per-document counts.  This feeds a
single blocked ``minimum.reduceat`` min-reduce instead of N Python loops.
"""

from __future__ import annotations

import math
import re

import numpy as np

P = np.uint64(31)
U32_MAX_F = 4294967295.0  # Float64.new(UInt32::MAX), engine.cr:181
_U32_FULL = np.uint32(0xFFFFFFFF)
_U64_SHIFT32 = np.uint64(32)
_WS_RE = re.compile(r"\s+")

# Max elements of one (shingles x signature_size) uint64 scratch block in
# the NumPy path; bounds its scratch to ~BLOCK_ELEMS * 8 B.  48k elems
# (384 KB) keeps the block L2-resident between the multiply, add and
# min-reduce passes; blocks never split a document, so a lone document
# larger than the budget gets a block of its own.
BLOCK_ELEMS = 48_000


def _native_fused_available() -> bool:
    """True when the fused C kernels (kernels_native) compiled + loaded."""
    try:
        from lexis_minhash_spark import kernels_native as KN

        return KN.load() is not None
    except Exception:  # pragma: no cover — any import/build issue → NumPy
        return False


def _exclusive_cumsum(counts: np.ndarray) -> np.ndarray:
    """Start offsets of consecutive runs of the given lengths → int64."""
    starts = np.zeros(counts.shape[0], dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return starts


# ---------------------------------------------------------------------------
# normalization + gates (engine/signature.cr:12-16)
# ---------------------------------------------------------------------------

def normalize_text(text: str) -> str:
    """``text.downcase.strip`` (engine/signature.cr:12).

    Python ``str.lower``/``str.strip`` use Unicode default casing/whitespace,
    matching Crystal's for ASCII and the vast majority of Unicode; parity
    fixtures are ASCII-only by design (FIXTURES.md §6).
    """
    return text.lower().strip()


def passes_gates(normalized: str, min_words: int, shingle_size: int) -> bool:
    """False → zero signature.  Mirrors engine/signature.cr:13-16:
    empty / word-count < min_words / codepoint-length < shingle_size.
    NOTE: the length gate counts *codepoints*; shingling iterates *bytes*.
    """
    if not normalized:
        return False
    if len(_WS_RE.split(normalized)) < min_words:
        return False
    if len(normalized) < shingle_size:
        return False
    return True


# ---------------------------------------------------------------------------
# shingle hashing (engine/rolling.cr:44-62)
# ---------------------------------------------------------------------------

def shingle_hashes_bytes(data: np.ndarray, k: int) -> np.ndarray:
    """uint64 polynomial hashes of every k-byte window of ``data`` (uint8[n]).

    h(w) = sum(w[j] * 31^(k-1-j)) mod 2^64 — identical values to the
    reference's incremental rolling form (rolling.cr:44-62), computed as k
    in-place vector Horner steps (one multiply + one add each, exact
    mod 2^64 by unsigned wraparound).  Windows may straddle whatever
    boundaries ``data`` holds; ``batch_shingle_hashes_bytes`` is the
    per-document entry.
    """
    n = int(data.shape[0]) - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    d = data.astype(np.uint64)
    h = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        np.multiply(h, P, out=h)
        np.add(h, d[j : j + n], out=h)
    return h


def shingle_hashes_text(text: str, k: int) -> np.ndarray:
    """Shingle hashes of a (already normalized) text's UTF-8 bytes."""
    return shingle_hashes_bytes(
        np.frombuffer(text.encode("utf-8"), dtype=np.uint8), k
    )


def shingle_hash_for(shingle: str) -> int:
    """Polynomial hash of a whole key string (engine.cr:264-273):
    window size = byte length, i.e. plain poly hash of all bytes."""
    b = shingle.encode("utf-8")
    h = shingle_hashes_bytes(np.frombuffer(b, dtype=np.uint8), len(b))
    return int(h[0]) if h.size else 0


def batch_shingle_hashes_bytes(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-document k-byte window hashes of byte streams packed in ``data``.

    Document d is ``data[starts[d] : starts[d] + lens[d]]``.  Returns
    ``(hashes_concat: uint64[total], counts: int64[n_docs])`` with
    ``counts = max(lens - k + 1, 0)``: only windows fully inside one
    document.  Runs the incremental C rolling hash when the native library
    loads; otherwise hashes every window of ``data`` and gathers the
    in-document ones.
    """
    lens = np.asarray(lens, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    # the C kernel reads data[starts[d] : starts[d] + lens[d]] unchecked
    if k < 1 or starts.shape != lens.shape or (lens.size and (
        starts.min() < 0 or lens.min() < 0
        or (starts + lens).max() > data.shape[0]
    )):
        raise ValueError("k < 1 or document spans outside data")
    if _native_fused_available():
        from lexis_minhash_spark import kernels_native as KN

        return KN.rolling_hashes_multi(data, starts, lens, k)
    counts = np.maximum(lens - (k - 1), 0)
    h_all = shingle_hashes_bytes(data, k)
    # window i of doc d sits at h_all[starts[d] + i] for i < counts[d]
    offsets = np.repeat(starts - _exclusive_cumsum(counts), counts)
    return h_all[np.arange(offsets.shape[0]) + offsets], counts


def batch_shingle_hashes(
    texts: list[str], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashing for a batch of normalized texts: their UTF-8 byte
    streams are concatenated once and hashed by
    ``batch_shingle_hashes_bytes``.
    Returns ``(hashes_concat: uint64[total], counts: int64[len(texts)])``.
    """
    chunks = [t.encode("utf-8") for t in texts]
    lens = np.fromiter(map(len, chunks), dtype=np.int64, count=len(chunks))
    big = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    return batch_shingle_hashes_bytes(big, _exclusive_cumsum(lens), lens, k)


# ---------------------------------------------------------------------------
# MinHash min-reduce (engine/signature.cr:7-30; weighted engine.cr:170-186)
# ---------------------------------------------------------------------------

class _U64Scratch:
    """Reusable block buffers: fresh per-block allocations page-fault
    heavily on microVM hosts, so every pass writes into ``out=`` scratch.
    The weighted path's float64/uint32 buffers are allocated on first use."""

    def __init__(self, max_rows: int, s: int):
        self.max_rows = max_rows
        self.m = np.empty((max_rows, s), dtype=np.uint64)
        self._weighted: tuple[np.ndarray, np.ndarray] | None = None

    def weighted(self) -> tuple[np.ndarray, np.ndarray]:
        if self._weighted is None:
            shape = self.m.shape
            self._weighted = (np.empty(shape, np.float64), np.empty(shape, np.uint32))
        return self._weighted


# One cached scratch per signature size.  The pandas UDFs call the kernels
# once per Arrow batch; Python workers are single-threaded and every
# buffer is fully overwritten per block, so reuse across calls is safe.
_U64_SCRATCH_CACHE: dict[int, _U64Scratch] = {}


def _get_u64_scratch(max_rows: int, s: int) -> _U64Scratch:
    sc = _U64_SCRATCH_CACHE.get(s)
    if sc is None or sc.max_rows < max_rows:
        if len(_U64_SCRATCH_CACHE) >= 4:  # bounded RSS across shapes
            _U64_SCRATCH_CACHE.clear()
        sc = _U64Scratch(max_rows, s)
        _U64_SCRATCH_CACHE[s] = sc
    return sc


def _mulshift_high32_u64(
    h: np.ndarray, a: np.ndarray, b: np.ndarray,
    scratch: _U64Scratch,
    shift: bool = True,
) -> np.ndarray:
    """``((a*h + b) mod 2^64) >> 32`` via direct uint64 wraparound →
    uint64[n, S] view into ``scratch`` (consume before the next call).

    ``shift=False`` returns the full 64-bit ``(a*h + b) mod 2^64``:
    ``>> 32`` is monotone non-decreasing, so it commutes with the
    min-reduce — the caller shifts only the REDUCED (docs × S) block,
    saving one full-size pass."""
    m = scratch.m[: int(h.shape[0])]
    np.multiply(h[:, None], a[None, :], out=m)
    m += b[None, :]
    if shift:
        np.right_shift(m, _U64_SHIFT32, out=m)
    return m


def minhash_from_hashes(
    h64: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Unweighted signature of one hash stream → uint32[signature_size].
    ``((a[i]*h + b[i]) mod 2^64) >> 32`` min-reduced over shingles
    (engine/signature.cr:22-27). Empty stream → all UInt32::MAX
    (init value, engine/signature.cr:18)."""
    return minhash_batch(h64, np.array([h64.shape[0]], dtype=np.int64), a, b)[0]


def minhash_batch(
    hashes_concat: np.ndarray,
    counts: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
    weights_concat: np.ndarray | None = None,
) -> np.ndarray:
    """Signatures for a whole batch → uint32[n_docs, signature_size].

    Unweighted: the fused C kernel when it loads.  Otherwise a blocked
    ``(shingles × signature_size)`` uint64 multiply-shift followed by
    ``np.minimum.reduceat`` at document boundaries — the vectorized
    equivalent of the reference's nested per-shingle/per-hash loops.

    ``weights_concat`` (float64, parallel to ``hashes_concat``) switches to
    the weighted update (engine.cr:170-186): effective weight = max(w,0),
    w<=0 shingles skipped, divisor = log(1+w) if w<1 else w, value =
    fmod(h32/divisor, 4294967295.0) truncated to uint32.

    Documents with zero shingles yield the UInt32::MAX-filled init vector —
    callers apply the zero-signature gates *before* building the batch.
    """
    s = int(a.shape[0])
    n_docs = int(counts.shape[0])
    out = np.full((n_docs, s), _U32_FULL, dtype=np.uint32)
    if hashes_concat.size == 0:
        return out

    h = hashes_concat.astype(np.uint64, copy=False)
    counts = counts.astype(np.int64)
    w = weights_concat
    if w is None and _native_fused_available():
        # one streaming pass per doc: multiply-shift + >>32 + u32 min with
        # the accumulator row in L1 (kernels_native.minhash_fused)
        from lexis_minhash_spark import kernels_native as KN

        return KN.minhash_fused(h, _exclusive_cumsum(counts), counts, a, b)
    if w is not None:
        # drop non-positive weights (engine.cr:175-177)
        w = np.maximum(w, 0.0)
        keep = w > 0.0
        if not keep.all():
            doc_ids = np.repeat(np.arange(n_docs), counts)
            h = h[keep]
            counts = np.bincount(doc_ids[keep], minlength=n_docs).astype(np.int64)
            w = w[keep]
            if h.size == 0:
                return out
        # NB: the reference computes Math.log(1.0 + w) (engine.cr:179) — NOT
        # log1p — and the two differ in the last ulp for general w; mirror it.
        divisor = np.where(w < 1.0, np.log(1.0 + w), w)

    ne_idx = np.nonzero(counts > 0)[0]
    ne_starts = _exclusive_cumsum(counts)[ne_idx]
    ne_counts = counts[ne_idx]
    # blocks of consecutive docs within the BLOCK_ELEMS budget
    rows_per_block = max(1, BLOCK_ELEMS // s)
    bounds = [0]
    rows = 0
    for i, cnt in enumerate(ne_counts.tolist()):
        if rows > 0 and rows + cnt > rows_per_block:
            bounds.append(i)
            rows = 0
        rows += cnt
    bounds.append(ne_idx.shape[0])
    scratch = _get_u64_scratch(min(rows_per_block, int(h.shape[0])), s)
    for first, end in zip(bounds[:-1], bounds[1:]):
        lo = int(ne_starts[first])
        hi = int(ne_starts[end - 1] + ne_counts[end - 1])
        if hi - lo > scratch.max_rows:  # lone doc larger than the budget
            scratch = _get_u64_scratch(hi - lo, s)
        local_starts = (ne_starts[first:end] - lo).astype(np.intp)
        if w is None:
            # min-reduce on the FULL 64-bit values (>>32 is monotone, so it
            # commutes with min); shift + downcast only the reduced block
            m = _mulshift_high32_u64(h[lo:hi], a, b, scratch, shift=False)
            reduced = np.minimum.reduceat(m, local_starts, axis=0)
            np.right_shift(reduced, _U64_SHIFT32, out=reduced)
            out[ne_idx[first:end]] = reduced
            continue
        # H < 2^32 converts to float64 exactly inside the divide
        m = _mulshift_high32_u64(h[lo:hi], a, b, scratch)
        fw, m32 = (buf[: hi - lo] for buf in scratch.weighted())
        np.divide(m, divisor[lo:hi, None], out=fw)
        np.fmod(fw, U32_MAX_F, out=fw)
        np.copyto(m32, fw, casting="unsafe")  # trunc toward zero (>= 0)
        out[ne_idx[first:end]] = np.minimum.reduceat(m32, local_starts, axis=0)
    return out


def zero_signature(signature_size: int) -> np.ndarray:
    """All-zero signature for gated-out documents (engine/signature.cr:13-16)."""
    return np.zeros(signature_size, dtype=np.uint32)


# ---------------------------------------------------------------------------
# LSH band fold (engine.cr:426-456)
# ---------------------------------------------------------------------------

def band_hashes_batch(
    signatures: np.ndarray, num_bands: int, rows_per_band: int
) -> np.ndarray:
    """Band hashes → uint64[n_docs, num_bands].

    Per band of ``rows_per_band`` uint32 values:
    ``combined = ((combined << 7) ^ value) mod 2^64`` starting at 0
    (engine.cr:443-456).  NOTE the reference quirk: when ``bands`` overrides
    the config, ``rows`` still comes from the config, so only the first
    ``num_bands * rows_per_band`` signature slots are consumed — callers pass
    both explicitly to reproduce that behavior.
    """
    n = signatures.shape[0]
    used = num_bands * rows_per_band
    r = signatures[:, :used].reshape(n, num_bands, rows_per_band).astype(np.uint64)
    combined = np.zeros((n, num_bands), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(rows_per_band):
            combined = (combined << np.uint64(7)) ^ r[:, :, j]
    return combined


# ---------------------------------------------------------------------------
# similarity kernels (engine.cr:365-421, similarity.cr)
# ---------------------------------------------------------------------------

def signature_similarity(s1: np.ndarray, s2: np.ndarray) -> float:
    """Fraction of equal positions; 0.0 on empty or size mismatch
    (engine.cr:365-375)."""
    if s1.size == 0 or s2.size == 0 or s1.size != s2.size:
        return 0.0
    return float(np.count_nonzero(s1 == s2)) / float(s1.size)


def signature_similarity_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise similarity of two (n, s) signature matrices → float64[n]."""
    if a.size == 0:
        return np.empty(0, dtype=np.float64)
    return (a == b).mean(axis=1)


def overlap_coefficient(a: np.ndarray, b: np.ndarray) -> float:
    """|A ∩ B| / min(|A|, |B|) over *sorted* arrays (engine.cr:378-421,
    similarity.cr:53-69). 0.0 if either empty."""
    if a.size == 0 or b.size == 0:
        return 0.0
    inter = np.intersect1d(a, b, assume_unique=False).size
    # reference counts multiset matches two-pointer style; on distinct-sorted
    # inputs (its documented contract) intersect1d is identical — see
    # overlap_coefficient_multiset for exact parity on non-distinct input
    return float(inter) / float(min(a.size, b.size))


def overlap_coefficient_multiset(a: np.ndarray, b: np.ndarray) -> float:
    """Exact twin of the reference's two-pointer ``fast_overlap``
    (similarity.cr:53-69) on NON-distinct input: a value appearing c1 times
    in one array and c2 in the other contributes min(c1, c2) matches;
    denominator = min(len(a), len(b)).  Identical to overlap_coefficient on
    the documented sorted-distinct contract."""
    a = np.asarray(a)
    b = np.asarray(b)
    if a.size == 0 or b.size == 0:
        return 0.0
    va, ca = np.unique(a, return_counts=True)
    vb, cb = np.unique(b, return_counts=True)
    _, ia, ib = np.intersect1d(va, vb, assume_unique=True, return_indices=True)
    matches = int(np.minimum(ca[ia], cb[ib]).sum())
    return float(matches) / float(min(a.size, b.size))


def weighted_overlap(a: dict[str, float], b: dict[str, float]) -> float:
    """Σ min(w_a, w_b) over shared keys / min(Σ w_a, Σ w_b)
    (similarity.cr:26-39). 0.0 if either empty."""
    if not a or not b:
        return 0.0
    inter = 0.0
    for k, w in a.items():
        bw = b.get(k)
        if bw is not None:
            inter += min(w, bw)
    return inter / min(sum(a.values()), sum(b.values()))


def detection_probability(similarity: float, num_bands: int, rows_per_band: int) -> float:
    """1 - (1 - s^r)^b (engine.cr:460-464)."""
    return 1.0 - (1.0 - similarity**rows_per_band) ** num_bands


def shared_bands(bands1: np.ndarray, bands2: np.ndarray) -> int:
    """Positional count of equal band hashes (spec'd, unimplemented in ref:
    openspec/specs/band-matching/spec.md:6-23)."""
    n = min(bands1.size, bands2.size)
    return int(np.count_nonzero(bands1[:n] == bands2[:n]))


# ---------------------------------------------------------------------------
# serialization (engine/serialize.cr:5-41)
# ---------------------------------------------------------------------------

def signature_to_bytes(signature: np.ndarray) -> bytes:
    """Explicit little-endian uint32 blob (engine/serialize.cr:5-14), the
    one wire format; it also stands in for the reference's native-endian
    ``Signature#to_blob`` (engine.cr:48-51), whose bytes are the same on
    every little-endian host."""
    return np.ascontiguousarray(signature, dtype="<u4").tobytes()


def bytes_to_signature(blob: bytes) -> np.ndarray:
    """Inverse of signature_to_bytes; raises on size % 4 != 0
    (Signature.from_blob validation, engine.cr:55-67)."""
    if len(blob) == 0:
        return np.empty(0, dtype=np.uint32)
    if len(blob) % 4 != 0:
        raise ValueError("Invalid blob size: must be a multiple of 4 bytes")
    return np.frombuffer(blob, dtype="<u4").astype(np.uint32)


# ---------------------------------------------------------------------------
# SimHash extension (north star; Charikar 2002 / Manku et al. WWW'07)
# ---------------------------------------------------------------------------

# Shingle hashes from k=5 ASCII text only occupy the low ~31 bits of the
# u64 (poly sum < 2^31), which would leave simhash bits 31..63 constant —
# two of the four Hamming blocks identical across ALL documents, turning
# the block candidate join into an all-pairs join.  The hashes are
# therefore mixed to full 64-bit entropy with two fixed multiply-shift
# draws (the same uint64 multiply-shift as MinHash):
#   mixed = (msh(a1,b1,h) << 32) | msh(a2,b2,h)
SIMHASH_MIX_SEED = 0x53494D48  # 'SIMH'


def _simhash_mix(h64: np.ndarray) -> np.ndarray:
    from lexis_minhash_spark.config import seeded_coefficients

    a, b = seeded_coefficients(SIMHASH_MIX_SEED, 2)
    h = np.ascontiguousarray(h64, dtype=np.uint64)
    n = int(h.shape[0])
    out = np.empty(n, dtype=np.uint64)
    # block with one reused scratch — an unblocked call allocates 16 B of
    # fresh scratch per shingle, which page-faults on microVM hosts
    rows = max(1, min(BLOCK_ELEMS // 2, n))
    scratch = _get_u64_scratch(rows, 2)
    for lo in range(0, n, rows):
        hi = min(lo + rows, n)
        m = _mulshift_high32_u64(h[lo:hi], a, b, scratch)
        np.left_shift(m[:, 0], _U64_SHIFT32, out=out[lo:hi])
        out[lo:hi] |= m[:, 1]
    return out


def simhash_from_hashes(
    h64: np.ndarray, weights: np.ndarray | None = None
) -> int:
    """64-bit Charikar simhash of a shingle-hash stream.

    bit_j(fp) = 1 iff Σ_shingles (±w) > 0, where the sign is bit j of the
    MIXED shingle hash (see _simhash_mix).  Empty stream → 0.
    """
    if h64.size == 0:
        return 0
    mixed = _simhash_mix(h64)
    bits = ((mixed[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    signs = 2 * bits - 1
    if weights is not None:
        acc = (signs * weights[:, None]).sum(axis=0)
    else:
        acc = signs.sum(axis=0)
    with np.errstate(over="ignore"):
        bitvals = (acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
    return int(bitvals.sum(dtype=np.uint64))


def simhash_batch(
    hashes_concat: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Batched simhash → uint64[n_docs].

    Per-bit-plane loop with reused buffers: acc_j > 0 ⟺ 2·Σ bit_j > count,
    so each of the 64 planes is one shift/and pass + one add.reduceat over
    the shingle stream.  (The former (shingles × 64) int32 sign matrix
    allocated ~250 B/shingle fresh per Arrow batch — a page-fault hotspot on
    this host class, see BENCH.md; shifts/ands on uint64 are SIMD-cheap,
    only u64 multiply is slow.)"""
    n_docs = int(counts.shape[0])
    out = np.zeros(n_docs, dtype=np.uint64)
    if hashes_concat.size == 0:
        return out
    mixed = _simhash_mix(hashes_concat)
    nonempty = counts > 0
    starts_all = np.concatenate(([0], np.cumsum(counts)[:-1]))
    ne_idx = np.nonzero(nonempty)[0]
    idx = starts_all[ne_idx].astype(np.intp)
    ne_counts = counts[ne_idx].astype(np.uint64)
    fps = np.zeros(ne_idx.shape[0], dtype=np.uint64)
    bits = np.empty(mixed.shape[0], dtype=np.uint64)
    for j in range(64):
        np.right_shift(mixed, np.uint64(j), out=bits)
        np.bitwise_and(bits, np.uint64(1), out=bits)
        sums = np.add.reduceat(bits, idx)
        fps |= (2 * sums > ne_counts).astype(np.uint64) << np.uint64(j)
    out[ne_idx] = fps
    return out


def hamming_distance_u64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Element-wise popcount(a XOR b) for uint64 arrays."""
    x = np.ascontiguousarray(a.astype(np.uint64) ^ b.astype(np.uint64))
    # popcount via unpackbits on the byte view (vectorized, no Python loop)
    bytes_view = x.view(np.uint8).reshape(*x.shape, 8)
    return np.unpackbits(bytes_view, axis=-1).sum(axis=-1).astype(np.int64)


def simhash_block_keys(fp: np.ndarray, num_blocks: int = 4) -> np.ndarray:
    """Split each 64-bit fingerprint into ``num_blocks`` equal bit-blocks →
    int64[n, num_blocks] block keys (Manku/Jain/Sarma WWW'07 candidate
    generation: dups within Hamming distance num_blocks-1 share ≥1 block)."""
    width = 64 // num_blocks
    mask = np.uint64((1 << width) - 1)
    shifts = (np.arange(num_blocks, dtype=np.uint64) * np.uint64(width))
    return ((fp[:, None] >> shifts[None, :]) & mask).astype(np.int64)


def rolling_fingerprint(text: str, k: int = 64) -> int:
    """Document fingerprint: min rolling-hash over k-byte windows (cheap
    content-defined fingerprint for the text-analysis extras). Whole-text
    poly hash when shorter than k."""
    b = text.encode("utf-8")
    data = np.frombuffer(b, dtype=np.uint8)
    if data.size == 0:
        return 0
    if data.size < k:
        h = shingle_hashes_bytes(data, data.size)
        return int(h[0])
    return int(shingle_hashes_bytes(data, k).min())


def log_detection_threshold(num_bands: int, rows_per_band: int) -> float:
    """Approximate LSH similarity threshold (1/b)^(1/r) (README.md:318-320)."""
    return math.pow(1.0 / num_bands, 1.0 / rows_per_band)
