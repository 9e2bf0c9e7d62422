"""Pure-NumPy signature kernels, shared verbatim by the Spark pandas UDFs
(qalsh_spark/functions/signatures.py) and the single-process test oracle
(tests/oracle.py).  Sharing one implementation is what makes the "dup-pair
recall >= 0.99 vs reference clusters at identical config" gate (BASELINE.json)
achievable by construction: both sides compute bit-identical signatures.

Reference lineage:
- `minhash_from_shingles` reimagines the reference's LSH projection
  h(o) = <a_i, o> over m p-stable vectors (/root/reference/methods/qalsh.h:118-120,
  coefficients drawn at methods/qalsh.h:238-244) as 128 seeded universal-hash
  permutations over a document's shingle set.
- `band_hashes` reimagines the B+-tree bucket of close projections
  (methods/qalsh.h:285-307) as an equality bucket over r concatenated minhash rows.
- The fixed seed mirrors `srand(6)` at methods/main.cc:152 — index builds are
  reproducible.
- `simhash64` adds the complementary bitwise fingerprint lane (Hamming<=h).
- `anchors`/`suffixes_for_text` implement the content-defined sampling that
  feeds the exact-substring (suffix) lane.

All functions are deterministic, vectorized, and dependency-free (NumPy only).
"""

from __future__ import annotations

import re
from itertools import combinations as _combinations

import numpy as np

# --- fixed 64-bit mixing constants (splitmix64 / xxhash-style, public domain
# constants widely used in open-source hashing code) -------------------------
_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xC2B2AE3D27D4EB4F)
_M3 = np.uint64(0xFF51AFD7ED558CCD)
_M4 = np.uint64(0xC4CEB9FE1A85EC53)
# multiplicative inverse of _M1 mod 2^64 (exists: _M1 is odd) — lets the
# anchor rolling hash be computed with O(1) work per byte instead of an
# O(window) sliding-window multiply (see `anchors`)
_M1_INV = np.uint64(pow(0x9E3779B97F4A7C15, -1, 1 << 64))

# Per-process caches for the small constant tables the hot per-document
# kernels need (polynomial power vectors, block-combination indices).
# Rebuilding them per call costs more than the vector math they feed —
# ~100 scalar NumPy multiplies per document at the defaults.
_POW_CACHE: dict = {}
_COMBO_CACHE: dict = {}


def _pow_table(base: np.uint64, length: int, descending: bool = True) -> np.ndarray:
    """[base^(length-1), ..., base, 1] (mod 2^64) — cached per (base, length,
    order)."""
    key = (int(base), length, descending)
    t = _POW_CACHE.get(key)
    if t is None:
        with np.errstate(over="ignore"):
            t = np.full(length, base, dtype=np.uint64)
            t[0] = 1
            np.cumprod(t, out=t)
            if descending:
                t = t[::-1].copy()
        _POW_CACHE[key] = t
    return t

_TOKEN_RE = re.compile(r"[a-z0-9]+")

_EMPTY_SHINGLE = np.uint64(0x9E3779B97F4A7C15)  # sentinel shingle for empty docs


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — avalanche a uint64 array in place-ish."""
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(33)
    h *= _M3
    h ^= h >> np.uint64(33)
    h *= _M4
    h ^= h >> np.uint64(33)
    return h


def tokenize(text: str) -> list[str]:
    """Lowercase alnum tokenization. Must stay in lock-step with the oracle —
    it IS the oracle's tokenizer (same module)."""
    return _TOKEN_RE.findall(text.lower())


def hash_tokens(tokens: list[str]) -> np.ndarray:
    """Vectorized token -> uint64. Tokens are padded/truncated to 16 bytes and
    viewed as 2 uint64 lanes, then mixed. No per-token Python hashing."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    a = np.array(tokens, dtype="S16")  # zero-padded, silently truncated >16B
    lanes = np.frombuffer(a.tobytes(), dtype=np.uint64).reshape(len(tokens), 2)
    with np.errstate(over="ignore"):
        h = (lanes[:, 0] * _M1) ^ (lanes[:, 1] * _M2)
    return _mix64(h)


def shingle_hashes(token_hashes: np.ndarray, k: int = 3) -> np.ndarray:
    """Rolling combine of k consecutive token hashes -> sorted unique uint64
    shingle set. Docs with fewer than k tokens fall back to their token hashes;
    empty docs get a single sentinel shingle."""
    n = len(token_hashes)
    if n == 0:
        return np.array([_EMPTY_SHINGLE], dtype=np.uint64)
    if n < k:
        return np.unique(_mix64(token_hashes))
    with np.errstate(over="ignore"):
        s = token_hashes[: n - k + 1] * _M1
        for i in range(1, k):
            s = s ^ (token_hashes[i : n - k + 1 + i] * np.uint64(2 * i + 1) * _M2)
    return np.unique(_mix64(s))


def minhash_params(num_perm: int = 128, seed: int = 6) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (a, b) multiply-add permutation parameters; `a` forced odd.
    Analog of drawing m*d p-stable coefficients at a fixed seed
    (/root/reference/methods/qalsh.h:238-244 + methods/main.cc:152)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_from_shingles(
    shingles: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """128-perm MinHash: min over shingles of (a_i*s + b_i) mod 2^64, top 32
    bits kept -> int32 array (FIXTURES.md §2 schema)."""
    with np.errstate(over="ignore"):
        v = shingles[:, None] * a[None, :]
        v += b[None, :]  # in place: one (n_shingles, num_perm) temp, not two
    mh64 = v.min(axis=0)
    return (mh64 >> np.uint64(32)).astype(np.uint32).view(np.int32)


_BIT_SHIFTS = np.arange(64, dtype=np.uint64)


def simhash64(token_hashes: np.ndarray) -> int:
    """64-bit SimHash over (multiset of) token hashes; returns signed int64-
    compatible Python int. Ties (vote == 0) resolve to bit 0."""
    n = len(token_hashes)
    if n == 0:
        return 0
    # Bit histogram via unpackbits over the little-endian byte view: column
    # j of the (n, 64) uint8 matrix is bit j of each hash.  8x less memory
    # traffic than the former (n, 64) uint64 shift-and-mask broadcast.
    bits = np.unpackbits(
        np.ascontiguousarray(token_hashes).view(np.uint8).reshape(n, 8),
        axis=1,
        bitorder="little",
    )
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - n
    set_bits = (votes > 0).astype(np.uint64)
    with np.errstate(over="ignore"):
        fp = (set_bits << _BIT_SHIFTS).sum(dtype=np.uint64)
    return int(fp.astype(np.uint64).view(np.int64))


def band_hashes(minhash: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """Hash each band of r consecutive minhash values (+ band index) into a
    signed 64-bit bucket key. Vectorized across bands."""
    mh = minhash.view(np.uint32).astype(np.uint64).reshape(bands, rows)
    with np.errstate(over="ignore"):
        h = np.full(bands, _M1, dtype=np.uint64)
        for j in range(rows):
            h = (h ^ mh[:, j]) * _M2
        h ^= np.arange(bands, dtype=np.uint64) * _M1
    return _mix64(h).view(np.int64)



def band_hashes_matrix(minhash: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(n, num_perm) int32 minhash matrix -> (n, bands) int64 band keys.
    Row-for-row identical to `band_hashes` (same mixing ops, broadcast over
    the batch) — used by the escalation pass to re-band EXISTING signatures
    with a coarser (b, r) without re-signing documents."""
    n = minhash.shape[0]
    mh = minhash.view(np.uint32).astype(np.uint64).reshape(n, bands, rows)
    with np.errstate(over="ignore"):
        h = np.full((n, bands), _M1, dtype=np.uint64)
        for j in range(rows):
            h = (h ^ mh[:, :, j]) * _M2
        h ^= np.arange(bands, dtype=np.uint64)[None, :] * _M1
    return _mix64(h).view(np.int64)


def _simhash_block_bounds(bits: int, blocks: int) -> list[tuple[int, int]]:
    """Fixed near-even split of `bits` into `blocks` contiguous ranges."""
    base, rem = divmod(bits, blocks)
    bounds, pos = [], 0
    for i in range(blocks):
        w = base + (1 if i < rem else 0)
        bounds.append((pos, w))
        pos += w
    return bounds


def simhash_band_keys(
    fp: int, blocks: int = 6, key_blocks: int = 3, bits: int = 64
) -> np.ndarray:
    """Manku-style block-combination keys for Hamming-<=k discovery at scale.

    Split the fingerprint into `blocks` near-even bit blocks; emit one key
    per combination of `key_blocks` blocks (key = mix of the chosen block
    values + combination id).  <=(blocks - key_blocks) flipped bits leave at
    least `key_blocks` blocks intact, so SOME combination is fully intact on
    both sides -> >=1 shared key (guaranteed discovery for
    hamming <= blocks - key_blocks).

    Why not the naive 4x16-bit pigeonhole: a 16-bit key space saturates at
    ~10^5 documents — beyond that every bucket fills with RANDOM collisions
    and candidate pairs grow quadratically with corpus size (measured: 27M
    junk pairs at 10^6 docs).  Three-block keys carry ~32 bits, pushing
    saturation out by ~2^16 while keeping the same Hamming-3 guarantee at
    C(6,3)=20 keys/doc."""
    key = (blocks, key_blocks, bits)
    cached = _COMBO_CACHE.get(key)
    if cached is None:
        bounds = _simhash_block_bounds(bits, blocks)
        idx = np.array(
            list(_combinations(range(blocks), key_blocks)), dtype=np.int64
        )  # (n_combos, key_blocks)
        shifts = np.array([p for p, _ in bounds], dtype=np.uint64)
        masks = np.array([(1 << w) - 1 for _, w in bounds], dtype=np.uint64)
        with np.errstate(over="ignore"):
            seeds = (np.arange(len(idx), dtype=np.uint64) + np.uint64(1)) * _M1
        cached = (idx, shifts, masks, seeds)
        _COMBO_CACHE[key] = cached
    idx, shifts, masks, seeds = cached
    u = np.uint64(int(fp) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        vals = (u >> shifts) & masks  # (blocks,) block values
        # same per-combo fold as the former scalar loop ((h ^ val) * M2 per
        # chosen block), vectorized across all combinations at once
        h = seeds.copy()
        for col in range(idx.shape[1]):
            h = (h ^ vals[idx[:, col]]) * _M2
    return _mix64(h).view(np.int64)


# --- SRP (signed random projection) lane for embeddings ----------------------

def srp_planes(m: int, d: int, seed: int = 6) -> np.ndarray:
    """Seeded (m, d) Gaussian hyperplane matrix — the cosine-space analog of
    the reference drawing m*d p-stable coefficients at a fixed seed
    (/root/reference/methods/qalsh.h:238-244, srand(6) at main.cc:152)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((m, d))


def srp_band_keys_matrix(
    X: np.ndarray, planes: np.ndarray, bands: int, rows: int
) -> np.ndarray:
    """(n, d) float matrix -> (n, bands) int64 SRP band keys.

    sign bits = X @ planes.T > 0 (one BLAS matmul per batch — the whole
    point of the Arrow/NumPy path vs per-row plan literals); each band's
    `rows` bits pack into an int mixed with the band index, so keys from
    different bands never collide and bucketing can join on the key alone."""
    bits = (X @ planes.T) > 0  # (n, m)
    n = bits.shape[0]
    out = np.empty((n, bands), dtype=np.uint64)
    shifts = (np.uint64(1) << np.arange(rows, dtype=np.uint64))
    with np.errstate(over="ignore"):
        for b in range(bands):
            chunk = bits[:, b * rows : (b + 1) * rows].astype(np.uint64)
            v = (chunk * shifts[None, :]).sum(axis=1, dtype=np.uint64)
            out[:, b] = _mix64((v ^ (np.uint64(b + 1) * _M1)) * _M2)
    return out.view(np.int64)


# --- p-stable projection lane (the reference's actual hash family) -----------

def pstable_planes(m: int, d: int, p: float = 2.0, seed: int = 6) -> np.ndarray:
    """Seeded (m, d) p-stable coefficient matrix using the reference's
    distributions (/root/reference/methods/qalsh.h:238-244: Levy(1,0) for
    p=0.5, Cauchy(1,0) for p=1, N(0,1) for p=2; general p in (0,2) via the
    Chambers–Mallows–Stuck construction, the published standard the
    reference's p_stable() also implements)."""
    rng = np.random.default_rng([seed, int(p * 1000), 0x9A15])
    if p == 2.0:
        return rng.standard_normal((m, d))
    if p == 1.0:
        return rng.standard_cauchy((m, d))
    if p == 0.5:
        g = rng.standard_normal((m, d))
        g = np.where(np.abs(g) < 1e-12, 1e-12, g)
        return 1.0 / (g * g)  # Levy(1,0) = 1 / N(0,1)^2
    theta = rng.uniform(-np.pi / 2, np.pi / 2, (m, d))
    wexp = rng.exponential(1.0, (m, d))
    return (
        np.sin(p * theta)
        / np.cos(theta) ** (1.0 / p)
        * (np.cos((1.0 - p) * theta) / wexp) ** ((1.0 - p) / p)
    )


def pstable_offsets(m: int, w: float, seed: int = 6) -> np.ndarray:
    """Seeded uniform [0, w) per-projection offsets.  The reference needs
    none (its bucket is anchored at the query at search time, "query-aware",
    methods/qalsh.h:118-120); a batch floor-grid bucketization re-adds the
    classic E2LSH offset so the grid is unbiased w.r.t. the origin."""
    rng = np.random.default_rng([seed, 0x0FF5])
    return rng.uniform(0.0, w, m)


def pstable_w(c: float, p: float) -> float:
    """The reference's auto-tuned bucket width (unit query radius) that
    minimizes m (/root/reference/methods/qalsh.h:197-226): closed forms for
    p in {0.5, 1, 2}, published constants / linear interpolation otherwise.
    Scale by the target near-neighbor radius to get the working w."""
    import math

    w0 = (c - 1.0) / math.log(math.sqrt(c))
    w1 = 2.0 * math.sqrt(c)
    w2 = math.sqrt((8.0 * c * c * math.log(c)) / (c * c - 1.0))
    if abs(p - 0.5) < 1e-6:
        return w0
    if abs(p - 1.0) < 1e-6:
        return w1
    if abs(p - 2.0) < 1e-6:
        return w2
    if abs(p - 0.8) < 1e-6:
        return 2.503
    if abs(p - 1.2) < 1e-6:
        return 3.151
    if abs(p - 1.5) < 1e-6:
        return 3.465
    return (w2 - w1) * p + (2.0 * w1 - w2)


def pstable_collision_prob(
    p: float, t: float, n_samples: int = 200_000, seed: int = 6
) -> float:
    """P(two points at l_p distance r land in the same floor-quantized cell
    of width w), t = w/r — the E2LSH closed form E[max(0, 1 - |a|/t)] over
    a ~ p-stable, estimated by seeded Monte Carlo exactly like the
    reference does for general p (new_stable_prob,
    /root/reference/methods/random.cc — it integrates the same family
    numerically; MC keeps one code path for every p)."""
    a = np.abs(pstable_planes(1, n_samples, p, seed)[0])
    return float(np.clip(1.0 - a / t, 0.0, 1.0).mean())


def pstable_m(
    c: float, p: float, n: int, candidates: int = 100, w: float | None = None
) -> int:
    """The reference's auto-tuned projection count
    (/root/reference/methods/qalsh.h:228-235):

        m = ceil((sqrt(ln(2/beta)) + sqrt(ln(1/delta)))^2 / (2*(p1-p2)^2))

    with beta = CANDIDATES/n (CANDIDATES = 100, methods/def.h:39),
    delta = 1/e, p1 = collision probability at the target radius and p2
    at c times it — evaluated here with THIS engine's floor-grid collision
    model (pstable_collision_prob) at the same (w, c) operating point, so
    the guarantee transfers to the batch bucketization.  `w` defaults to
    the width pstable_w tunes for (c, p).  A user porting a reference
    config gets m derived from (c, p, n) exactly as the reference does,
    instead of guessing."""
    import math

    if w is None:
        w = pstable_w(c, p)
    beta = min(0.5, candidates / float(max(n, candidates + 1)))
    delta = 1.0 / math.e
    p1 = pstable_collision_prob(p, w)
    p2 = pstable_collision_prob(p, w / c)
    para1 = math.sqrt(math.log(2.0 / beta))
    para2 = math.sqrt(math.log(1.0 / delta))
    return int(math.ceil((para1 + para2) ** 2 / (2.0 * (p1 - p2) ** 2)))


def pstable_alpha(p: float, t1: float, c: float = 2.0) -> float:
    """The reference's collision-count threshold fraction alpha such that
    l = ceil(alpha*m) (/root/reference/methods/qalsh.h:228-236):
    alpha = (eta*p1 + p2) / (1 + eta), eta = sqrt(ln(2/beta)/ln(1/delta)),
    with the reference's defaults beta = CANDIDATES/n ~ 0.01 and
    delta = 1/e; p1 = collision prob at the target radius (t1 = w/r),
    p2 = at c*r."""
    import math

    p1 = pstable_collision_prob(p, t1)
    p2 = pstable_collision_prob(p, t1 / c)
    eta = math.sqrt(math.log(2.0 / 0.01) / math.log(math.e))
    return (eta * p1 + p2) / (1.0 + eta)


def pstable_cells_matrix(
    X: np.ndarray, planes: np.ndarray, offsets: np.ndarray, w: float
) -> np.ndarray:
    """(n, d) float matrix -> (n, m) int64 RAW quantized cells
    cell_i = floor((a_i . x + b_i) / w) — unmixed, so cell arithmetic
    survives: an arithmetic right shift by r is exact floor division by
    2^r (floor(x/(w*2^r)) == floor(floor(x/w) / 2^r)), which is what the
    virtual-rehashing lane exploits to double the radius WITHOUT
    re-projecting the data (the batch analog of the reference widening
    its B+-tree search window in place, methods/qalsh.h:844-871)."""
    return np.floor((X @ planes.T + offsets[None, :]) / w).astype(np.int64)


def pstable_band_keys_matrix(
    X: np.ndarray,
    planes: np.ndarray,
    offsets: np.ndarray,
    w: float,
    bands: int,
    rows: int,
) -> np.ndarray:
    """(n, d) float matrix -> (n, bands) int64 quantized p-stable band keys:
    cell_i = floor((a_i . x + b_i) / w), each band's `rows` cells fold into
    one mixed 64-bit key (same fold discipline as band_hashes_matrix, band
    index mixed in so cross-band keys never collide)."""
    n = X.shape[0]
    cells = pstable_cells_matrix(X, planes, offsets, w)
    cc = cells.view(np.uint64).reshape(n, bands, rows)
    with np.errstate(over="ignore"):
        h = np.full((n, bands), _M1, dtype=np.uint64)
        for j in range(rows):
            h = (h ^ cc[:, :, j]) * _M2
        h ^= (np.arange(bands, dtype=np.uint64) + np.uint64(1)) * _M4
    return _mix64(h).view(np.int64)


# --- Drusilla representative sampling (QALSH+ block sketches) ----------------

DRUSILLA_ANGLE = np.pi / 8.0  # close-angle suppression threshold
# (/root/reference/methods/def.h:37)


def drusilla_select(X: np.ndarray, n_proj: int, n_cand: int) -> np.ndarray:
    """Pick up to ``n_proj * n_cand`` representative row indices of ``X`` —
    the data-aware block sketch of QALSH+ (DrusillaSelect, Curtin et al.;
    selection semantics of /root/reference/methods/qalsh_plus.h:264-412,
    re-derived as vectorized NumPy rather than per-point loops):

    shift all points by the block centroid, then ``n_proj`` rounds of:
      1. direction = the largest-norm still-eligible shifted point,
         normalized;
      2. score every eligible point by ``offset^2 - distortion`` where
         ``offset = x . direction`` and ``distortion = |x - offset*dir|^2``
         (points far along the direction AND close to its line represent it
         best);
      3. keep the ``n_cand`` best-scoring points (ties broken by row index,
         matching the (key desc, id asc) sort everywhere else) and retire
         them from all future rounds;
      4. unselected points within ``DRUSILLA_ANGLE`` of the direction's
         line are suppressed from later rounds (they are already
         well-represented by this round's picks; keeping them would re-pick
         the same axis).

    Returns the selected row indices in selection order (first round first —
    callers that truncate get the highest-value sketch prefix).  Blocks
    smaller than the budget return every usable point; zero-norm points
    (duplicates of the centroid) are never selected.
    """
    n = X.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    S = X.astype(np.float64) - X.mean(axis=0, dtype=np.float64)[None, :]
    norm = np.sqrt((S * S).sum(axis=1))
    # norm > 0 -> live; norm == 0 -> centroid-duplicate (never selected);
    # selected / angle-suppressed points are retired by zeroing their norm
    out: list[int] = []
    for _ in range(n_proj):
        if not (norm > 0).any():
            break
        # largest norm, lowest index on ties (argmax is first-max already)
        max_id = int(np.argmax(norm))
        proj = S[max_id] / norm[max_id]
        offset = S @ proj
        distortion = ((S - offset[:, None] * proj[None, :]) ** 2).sum(axis=1)
        score = np.where(norm > 0, offset * offset - distortion, -np.inf)
        close = np.arctan(
            np.sqrt(np.maximum(distortion, 0.0)) / np.maximum(np.abs(offset), 1e-30)
        ) < DRUSILLA_ANGLE
        take = min(n_cand, int((norm > 0).sum()))
        # (score desc, index asc): lexsort keys are last-key-primary
        order = np.lexsort((np.arange(n), -score))[:take]
        out.extend(int(i) for i in order)
        norm[order] = 0.0
        norm[close] = 0.0
    return np.asarray(out, dtype=np.int64)


# --- suffix (exact substring) lane ------------------------------------------

def anchors(text: str, window: int = 16, gap: int = 32) -> np.ndarray:
    """Content-defined anchor positions: byte offsets where the rolling hash of
    the preceding `window` bytes is ≡ 0 (mod gap). Two documents sharing a
    verbatim run produce the *same* anchors inside the run (the property that
    makes sampled suffixes comparable across docs)."""
    data = np.frombuffer(text.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    n = len(data)
    if n < window:
        return np.zeros(1 if n else 0, dtype=np.int64)
    # Rolling formulation of h(i) = sum_j data[i+j] * M1^(window-1-j):
    # with Minv = M1^-1 (mod 2^64),
    #   h(i) = M1^(window-1+i) * (P[i+window-1] - P[i-1]),
    #   P[k]  = sum_{j<=k} data[j] * Minv^j  (prefix sums, all mod 2^64).
    # Bit-identical to the former sliding_window_view multiply-sum, but
    # O(1) vector work per byte instead of O(window) — the window view
    # materialized window*8 bytes of uint64 traffic per input byte, which
    # made this the single hottest line of the signing stage.
    with np.errstate(over="ignore"):
        minv_pows = np.full(n, _M1_INV, dtype=np.uint64)
        minv_pows[0] = 1
        np.cumprod(minv_pows, out=minv_pows)  # Minv^j
        pref = np.cumsum(data * minv_pows, dtype=np.uint64)  # inclusive P[k]
        wsum = pref[window - 1 :].copy()
        wsum[1:] -= pref[: n - window]
        mpows = np.full(n - window + 1, _M1, dtype=np.uint64)
        mpows[0] = _pow_table(_M1, window, descending=True)[0]  # M1^(window-1)
        np.cumprod(mpows, out=mpows)  # M1^(window-1+i)
        wsum *= mpows
        h = _mix64(wsum)
    pos = np.nonzero(h % np.uint64(gap) == np.uint64(0))[0] + window  # anchor = end of window
    pos = pos[pos < n]
    if len(pos) == 0:
        return np.zeros(0, dtype=np.int64)
    return pos.astype(np.int64)


def suffixes_for_text(
    text: str, window: int = 16, gap: int = 32, suffix_len: int = 256, lcp_min: int = 100
) -> list[str]:
    """Sampled suffixes (anchor -> anchor+suffix_len chars). Suffixes shorter
    than lcp_min can never witness a qualifying LCP and are dropped."""
    out = []
    for p in anchors(text, window, gap):
        s = text[int(p) : int(p) + suffix_len]
        if len(s) >= lcp_min:
            out.append(s)
    return out


def suffix_key_pairs_for_text(
    text: str, window: int = 16, gap: int = 32, lcp_min: int = 100
) -> tuple[np.ndarray, np.ndarray]:
    """(k1, k2) aligned int64 key arrays, one entry per content-defined
    anchor: two INDEPENDENT polynomial hashes (different radix, different
    pre-finalizer constant) of the same `lcp_min` bytes after the anchor.

    k1 is the bucket key (identical to `suffix_keys_for_text`); k2 is the
    verify-time check hash.  A suffix edge is accepted only when both docs
    share a full (k1, k2) tuple — a 128-bit equality test.  At 10^9-doc /
    ~10^11-key scale, 64-bit birthday collisions produce a handful of false
    bucket merges (and a false dedup edge silently merges unrelated
    clusters); requiring the independent second hash pushes the odds to
    2^-128 — beyond corpus scale — while the high-volume bucket shuffle
    still carries only the single 8-byte k1."""
    data = np.frombuffer(text.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    n = len(data)
    pos = anchors(text, window, gap)
    pos = pos[pos + lcp_min <= n]
    if len(pos) == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    win = np.lib.stride_tricks.sliding_window_view(data, lcp_min)[pos].astype(
        np.uint64
    )
    pows1 = _pow_table(_M2, lcp_min, descending=True)
    pows2 = _pow_table(_M1, lcp_min, descending=True)
    with np.errstate(over="ignore"):
        h1 = _mix64((win * pows1[None, :]).sum(axis=1, dtype=np.uint64))
        h2 = _mix64(
            (win * pows2[None, :]).sum(axis=1, dtype=np.uint64) ^ _M4
        )
    # unique by k1 (equal k1 within one doc => same bytes => same k2),
    # sorted ascending to keep output deterministic
    _, first = np.unique(h1, return_index=True)
    return h1[first].view(np.int64), h2[first].view(np.int64)


def suffix_keys_for_text(
    text: str, window: int = 16, gap: int = 32, lcp_min: int = 100
) -> np.ndarray:
    """Unique int64 bucket keys, one per content-defined anchor: the
    polynomial hash of the `lcp_min` bytes starting at the anchor.

    Key insight replacing the old payload+LCP verify: two suffixes have
    LCP >= lcp_min IFF their first lcp_min bytes are equal IFF their keys
    are equal — so equality bucketing on this key IS the (first-stage)
    verification, and the engine never has to shuffle suffix strings at
    all.  Edge acceptance additionally requires the independent check hash
    (`suffix_key_pairs_for_text`) to match, closing the 64-bit birthday
    window.  Anchors with < lcp_min bytes remaining can never witness a
    qualifying run and are dropped."""
    k1, _ = suffix_key_pairs_for_text(text, window, gap, lcp_min)
    return k1


def lcp(a: str, b: str) -> int:
    """Longest common prefix length of two strings (vectorized over bytes)."""
    xa = np.frombuffer(a.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    xb = np.frombuffer(b.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    n = min(len(xa), len(xb))
    if n == 0:
        return 0
    neq = np.nonzero(xa[:n] != xb[:n])[0]
    return int(neq[0]) if len(neq) else n


def jaccard_sorted(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted unique uint64/int64 arrays."""
    if len(a) == 0 and len(b) == 0:
        return 1.0
    inter = len(np.intersect1d(a, b, assume_unique=True))
    return inter / (len(a) + len(b) - inter)


def sign_document(
    text: str,
    a: np.ndarray,
    b: np.ndarray,
    shingle_k: int = 3,
    bands: int = 32,
    rows: int = 4,
    simhash_blocks: int = 6,
    simhash_key_blocks: int = 3,
) -> dict:
    """One-stop per-document signature bundle (used by oracle and by the
    batch UDF loop): shingles, minhash, band keys, simhash, simhash band keys."""
    th = hash_tokens(tokenize(text))
    sh = shingle_hashes(th, shingle_k)
    mh = minhash_from_shingles(sh, a, b)
    # SimHash over shingle (k-gram) features, NOT unigram tokens: documents
    # drawn from a shared zipfian vocabulary have near-identical unigram
    # distributions, which collapses unigram-simhash to Hamming ~0 between
    # unrelated docs. k-gram features keep unrelated docs near Hamming 32.
    fp = simhash64(sh)
    return {
        "shingles": sh.view(np.int64),
        "n_tokens": int(len(th)),
        "minhash": mh,
        "band_keys": band_hashes(mh, bands, rows),
        "simhash": fp,
        "simhash_keys": simhash_band_keys(fp, simhash_blocks, simhash_key_blocks),
    }


def doc_id_from_url(url: str) -> int:
    """Portable deterministic doc id: first 16 hex chars of md5(url) as a
    signed int64 (two's complement).  Chosen over xxhash64 because md5 is
    bit-identical across Python hashlib, Spark SQL and DuckDB, letting the
    NumPy oracle and SQL oracles share the engine's id space exactly
    (SURVEY.md §1.2 'point id')."""
    import hashlib

    v = int(hashlib.md5(url.encode("utf-8")).hexdigest()[:16], 16)
    return v - (1 << 64) if v >= (1 << 63) else v
