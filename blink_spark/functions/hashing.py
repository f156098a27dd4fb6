"""Deterministic vectorized hashing kernels: MinHash, SimHash, hashed n-gram vectors.

These are the numpy bodies of the stage-1 blocking UDFs — the engine's
analog of the reference's dense retrieval machinery:

* MinHash-LSH band keys   ≈ FAISS ANN probe (reference
  ``blink/indexer/faiss_indexer.py:47-141``) / Solr BM25 token retrieval
  (``blink/candidate_generation.py:68-115``): a cheap, recall-oriented
  candidate generator.
* SimHash over hashed char n-grams ≈ the bi-encoder embedding + random
  projection bucketing (reference ``blink/biencoder/biencoder.py:126-144``):
  a second, independent retrieval modality (BLINK also unions dense +
  BM25/p_e_m candidates).

Everything is seeded and partition-order independent, so results are
byte-identical across parallelism levels (needed for the N vs 4N scaling
evidence to double as a correctness check — SURVEY.md §7.3).

All hashes route through :func:`stable_hash64` (pandas' fixed-key SipHash),
never Python's randomized ``hash()``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Fixed 64-bit mixing constants (splitmix64 finalizer) — public-domain
# constants widely used for integer hash mixing.
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

_U64 = np.uint64
_MERSENNE61 = (1 << 61) - 1


def stable_hash64(values: "pd.Series | np.ndarray | list[str]") -> np.ndarray:
    """Deterministic 64-bit hash of strings (fixed-key SipHash via pandas).

    Stable across processes, machines, and Python versions — unlike
    builtin ``hash()``.
    """
    if not isinstance(values, pd.Series):
        values = pd.Series(values, dtype=object)
    return pd.util.hash_array(values.to_numpy(dtype=object), categorize=False).astype(np.uint64)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — decorrelates integer keys."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += _GOLDEN
        x = (x ^ (x >> np.uint64(30))) * _MIX1
        x = (x ^ (x >> np.uint64(27))) * _MIX2
        x = x ^ (x >> np.uint64(31))
    return x


def _combine_windows(h: np.ndarray, k: int) -> np.ndarray:
    """Sliding-window hash combine: position i gets a mix of h[i..i+k-1].

    Pure uint64 arithmetic on the whole array — no per-window Python. The
    window hash is order-sensitive (``acc*φ + next`` then splitmix), so
    'a b c' and 'c b a' land in different buckets, like string shingles.
    """
    m = len(h)
    L = m - k + 1
    with np.errstate(over="ignore"):
        if L <= 0:  # shorter than one window → one hash of the whole list
            acc = np.full(1, _U64(k), dtype=np.uint64)
            for j in range(m):
                acc = splitmix64(acc * _GOLDEN + h[j : j + 1])
            return acc
        acc = splitmix64(h[:L] * _GOLDEN + _U64(k))
        for j in range(1, k):
            acc = splitmix64(acc * _GOLDEN + h[j : j + L])
    return acc


def token_shingles(tokens: list[str], k: int = 3) -> np.ndarray:
    """Hashes of the k-token shingles of one token list (uint64, deduped,
    sorted — stage-2 Jaccard relies on the sorted order).

    A document shorter than ``k`` tokens contributes its whole token list
    as a single shingle so it still gets a signature.
    """
    if len(tokens) == 0:
        return np.empty(0, dtype=np.uint64)
    return np.unique(_combine_windows(stable_hash64(tokens), k))


_EMPTY_U64 = np.empty(0, dtype=np.uint64)


def _window_hash_batch(seqs: list[np.ndarray], k: int) -> list[np.ndarray]:
    """Per-sequence sliding-window combine computed over ONE flat array.

    Sequences are laid out in a single buffer with ``k-1`` gap slots between
    them, :func:`_combine_windows` runs ONCE over the whole buffer, and each
    sequence's valid windows are sliced back out by position (views, no
    copies) — windows that would span two sequences land in the gap region
    and are never read. Sequences shorter than ``k`` take the scalar
    single-hash path (they are O(k) each). Identical output to calling
    ``_combine_windows`` per sequence.
    """
    D = len(seqs)
    sizes = np.fromiter((len(s) for s in seqs), count=D, dtype=np.int64)
    out: list[np.ndarray] = [_EMPTY_U64] * D
    for i in np.nonzero((sizes > 0) & (sizes < k))[0]:
        out[i] = _combine_windows(seqs[i], k)
    long_ids = np.nonzero(sizes >= k)[0]
    if len(long_ids):
        m = sizes[long_ids]
        starts = np.zeros(len(long_ids), dtype=np.int64)
        np.cumsum(m[:-1] + (k - 1), out=starts[1:])
        flat = np.zeros(int(starts[-1] + m[-1]), dtype=np.uint64)
        for j, i in enumerate(long_ids):
            flat[starts[j] : starts[j] + m[j]] = seqs[i]
        acc = _combine_windows(flat, k)
        for j, i in enumerate(long_ids):
            out[i] = acc[starts[j] : starts[j] + m[j] - k + 1]
    return out


def _unique_per_doc(win: list[np.ndarray]) -> list[np.ndarray]:
    """Batched per-document ``np.unique``: one lexsort of (doc, value) over
    the whole batch, adjacent-duplicate mask, slice back per doc. Output
    arrays are uint64-ascending like ``np.unique``'s."""
    D = len(win)
    wsizes = np.fromiter((len(w) for w in win), count=D, dtype=np.int64)
    if wsizes.sum() == 0:
        return [_EMPTY_U64] * D
    vals = np.concatenate([w for w in win if len(w)])
    dids = np.repeat(np.arange(D), wsizes)
    order = np.lexsort((vals, dids))
    sv, sd = vals[order], dids[order]
    keep = np.empty(len(sv), dtype=bool)
    keep[0] = True
    keep[1:] = (sv[1:] != sv[:-1]) | (sd[1:] != sd[:-1])
    uv, ud = sv[keep], sd[keep]
    counts = np.bincount(ud, minlength=D)
    ends = np.cumsum(counts)
    return [uv[ends[i] - counts[i] : ends[i]] for i in range(D)]


def token_shingles_batch(token_lists: list[list[str]], k: int = 3) -> list[np.ndarray]:
    """Batch :func:`token_shingles`: one ``stable_hash64`` call for the whole
    Arrow batch, ONE vectorized window combine over a gap-padded flat buffer
    (:func:`_window_hash_batch`), and ONE batched dedup sort
    (:func:`_unique_per_doc`) — no per-document numpy calls. Identical
    output to the single-document function."""
    D = len(token_lists)
    flat: list[str] = []
    sizes = np.empty(D, dtype=np.int64)
    for i, lst in enumerate(token_lists):
        sizes[i] = len(lst)
        flat.extend(lst)
    if not flat:
        return [_EMPTY_U64] * D
    h = stable_hash64(flat)
    offs = np.zeros(D, dtype=np.int64)
    np.cumsum(sizes[:-1], out=offs[1:])
    seqs = [h[offs[i] : offs[i] + sizes[i]] for i in range(D)]
    return _unique_per_doc(_window_hash_batch(seqs, k))


def char_ngrams_hashed(text: str, n: int = 3) -> np.ndarray:
    """Hashes of character n-grams of one string (uint64, with repeats).

    Codepoint-array arithmetic (one encode + k vectorized mixes), not
    per-gram string slicing — ~100× less Python per document.
    """
    if not text:
        return np.empty(0, dtype=np.uint64)
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    return _combine_windows(cps, n)


def char_ngrams_hashed_batch(texts: list[str], n: int = 3) -> list[np.ndarray]:
    """Batch :func:`char_ngrams_hashed`: ONE encode + ONE window combine for
    the whole Arrow batch. Texts are joined with ``n-1`` padding characters
    between them; each text's windows are sliced back out by position, so
    windows spanning two texts are never read (the pad character's value is
    irrelevant — selection is positional). Identical output to the
    single-document function (asserted in tests)."""
    D = len(texts)
    sizes = np.fromiter((len(t) for t in texts), count=D, dtype=np.int64)
    out: list[np.ndarray] = [_EMPTY_U64] * D
    if sizes.sum() == 0:
        return out
    joined = ("\x00" * (n - 1)).join(texts)
    cps = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    starts = np.zeros(D, dtype=np.int64)
    np.cumsum(sizes[:-1] + (n - 1), out=starts[1:])
    acc = _combine_windows(cps, n) if len(cps) >= n else None
    for i in range(D):
        if sizes[i] == 0:
            continue
        if sizes[i] < n or acc is None:
            out[i] = _combine_windows(cps[starts[i] : starts[i] + sizes[i]], n)
        else:
            out[i] = acc[starts[i] : starts[i] + sizes[i] - n + 1]
    return out


class MinHasher:
    """Seeded MinHash over uint64 shingle-hash sets.

    ``num_perm`` permutations ``h_i(x) = (a_i * x + b_i) mod p`` over the
    Mersenne prime ``p = 2^61 - 1`` (the classic universal family), computed
    vectorized across a whole Arrow batch with ``np.minimum.reduceat``.
    """

    def __init__(self, num_perm: int = 128, seed: int = 42):
        rng = np.random.RandomState(seed)
        # a in [1, p-1], b in [0, p-1]
        self.a = rng.randint(1, _MERSENNE61, size=num_perm, dtype=np.int64).astype(np.uint64)
        self.b = rng.randint(0, _MERSENNE61, size=num_perm, dtype=np.int64).astype(np.uint64)
        self.num_perm = num_perm

    def _permute(self, hashes: np.ndarray) -> np.ndarray:
        """(P, M) matrix of permuted hash values for M input hashes."""
        # Work modulo 2^64 with a splitmix-mixed input; empirically
        # uniform and avoids 128-bit arithmetic. Determinism is what
        # matters for LSH banding; collision stats stay minhash-like.
        x = splitmix64(hashes)
        with np.errstate(over="ignore"):
            hv = np.multiply(self.a[:, None], x[None, :])
            hv += self.b[:, None]
        return hv

    def signatures(self, shingle_sets: list[np.ndarray], chunk: int = 8_192) -> np.ndarray:
        """MinHash signatures for a batch of shingle-hash sets.

        Returns ``(D, P)`` uint64. Empty sets get the all-max signature
        (they never collide with anything).

        ``chunk`` bounds the ``(P × chunk)`` scratch matrix: small enough to
        stay cache-resident per worker — with 32 Arrow workers per host the
        kernel is memory-bandwidth-bound, and DRAM-sized temporaries
        serialize the whole stage (measured ~6× slowdown at chunk=200k).
        """
        D = len(shingle_sets)
        out = np.full((D, self.num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
        if D == 0:
            return out
        sizes = np.array([len(s) for s in shingle_sets], dtype=np.int64)
        nonempty = np.nonzero(sizes > 0)[0]
        if len(nonempty) == 0:
            return out
        # process in bounded chunks so (P × chunk) scratch stays small
        start = 0
        ne_sizes = sizes[nonempty]
        while start < len(nonempty):
            end = start
            total = 0
            while end < len(nonempty) and (total == 0 or total + ne_sizes[end] <= chunk):
                total += ne_sizes[end]
                end += 1
            idx = nonempty[start:end]
            concat = np.concatenate([shingle_sets[i] for i in idx])
            offsets = np.zeros(len(idx), dtype=np.int64)
            np.cumsum(ne_sizes[start : end - 1], out=offsets[1:])
            hv = self._permute(concat)  # (P, total)
            sig = np.minimum.reduceat(hv, offsets, axis=1)  # (P, len(idx))
            out[idx] = sig.T
            start = end
        return out

    def band_keys(self, sigs: np.ndarray, bands: int) -> np.ndarray:
        """LSH band keys: ``(D, bands)`` int64.

        Signature split into ``bands`` contiguous row-groups; each group is
        mixed into a single 64-bit key (band index baked in so keys from
        different bands never collide).
        """
        D, P = sigs.shape
        assert P % bands == 0, f"num_perm={P} not divisible by bands={bands}"
        r = P // bands
        keys = np.empty((D, bands), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for b in range(bands):
                acc = np.full(D, _U64(b + 1), dtype=np.uint64)
                block = sigs[:, b * r : (b + 1) * r]
                for j in range(r):
                    acc = splitmix64(acc * _GOLDEN + block[:, j])
                keys[:, b] = acc
        return keys.view(np.int64)


def simhash64(feature_hashes: list[np.ndarray], chunk: int = 32_768) -> np.ndarray:
    """64-bit SimHash per document from hashed-feature multisets.

    For each of the 64 bit positions, sums +1/−1 according to the feature
    hash's bit, then takes the sign (a tie sets the bit to 0).
    Deterministic; no RNG needed. Returns int64 array of length D.

    Batch-vectorized: documents are concatenated (in bounded chunks so the
    ``(features × 64)`` bit matrix stays small) and per-document bit sums
    come from one ``np.add.reduceat`` — no per-document Python loop.
    """
    D = len(feature_hashes)
    out = np.zeros(D, dtype=np.uint64)
    bit_idx = np.arange(64, dtype=np.uint64)
    sizes = np.array([len(f) for f in feature_hashes], dtype=np.int64)
    nonempty = np.nonzero(sizes > 0)[0]
    start = 0
    ne_sizes = sizes[nonempty]
    while start < len(nonempty):
        end = start
        total = 0
        while end < len(nonempty) and (total == 0 or total + ne_sizes[end] <= chunk):
            total += ne_sizes[end]
            end += 1
        idx = nonempty[start:end]
        concat = np.concatenate([feature_hashes[i] for i in idx])
        offsets = np.zeros(len(idx), dtype=np.int64)
        np.cumsum(ne_sizes[start : end - 1], out=offsets[1:])
        # one C call instead of 64 shift/mask passes: little-endian byte
        # view + unpackbits(bitorder little) puts bit j in column j
        bits = np.unpackbits(
            np.ascontiguousarray(concat).view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        # Σ(2b−1) = 2Σb − n: sum raw bits (uint8 → int64 accumulator)
        # and rescale — skips materializing a float ±1 matrix entirely
        ones = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
        score = 2 * ones - ne_sizes[start:end, None]
        bitvecs = (score > 0).astype(np.uint64)
        out[idx] = (bitvecs << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
        start = end
    return out.view(np.int64)


def simhash_band_keys(simhashes: np.ndarray, bands: int = 4) -> np.ndarray:
    """Slice-PAIR bucket keys from a 64-bit SimHash → (D, C(bands,2)) int64.

    The SimHash is split into ``bands`` equal bit-slices; each *pair* of
    slices is mixed into one key. Two documents collide iff both slices of
    some pair match — i.e. at least 2·(64/bands) bits agree exactly. A
    single-slice key (16 bits) is far too blunt on same-domain corpora
    where all documents share a vocabulary and SimHashes crowd together
    (measured: single-slice buckets produced ~20× the candidate pairs of
    MinHash, nearly all false). Pairing slices keeps near-dup tolerance
    (hamming ≤ ~bands flips still leave some clean pair whp) while making
    random collisions 2^16× rarer.
    """
    sh = simhashes.view(np.uint64)
    width = 64 // bands
    mask = _U64((1 << width) - 1)
    slices = [(sh >> _U64(b * width)) & mask for b in range(bands)]
    cols = []
    with np.errstate(over="ignore"):
        for i in range(bands):
            for j in range(i + 1, bands):
                mixed = splitmix64(slices[i] * _GOLDEN + slices[j])
                cols.append(splitmix64(mixed + _U64(i * bands + j + 101)))
    return np.stack(cols, axis=1).view(np.int64)


def vectors_from_hashes(hash_list: list[np.ndarray], dim: int = 256) -> np.ndarray:
    """Feature-hashed count vectors ``(D, dim)`` float32, L2-normalized rows.

    Batch kernel: all documents' feature hashes are bucketed in one
    ``np.bincount`` over flattened ``(doc, bucket)`` indices.
    """
    D = len(hash_list)
    sizes = np.array([len(h) for h in hash_list], dtype=np.int64)
    if sizes.sum() == 0:
        return np.zeros((D, dim), dtype=np.float32)
    concat = np.concatenate([h for h in hash_list if len(h)])
    rows = np.repeat(np.nonzero(sizes > 0)[0], sizes[sizes > 0])
    buckets = (concat % _U64(dim)).astype(np.int64)
    signs = np.where((concat >> _U64(32)) & _U64(1), 1.0, -1.0)
    flat = rows * dim + buckets
    v = np.bincount(flat, weights=signs, minlength=D * dim).reshape(D, dim).astype(np.float32)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    np.divide(v, norms, out=v, where=norms > 0)
    return v


def hashed_ngram_vector(text: str, dim: int = 256, n: int = 3) -> np.ndarray:
    """Feature-hashed char-n-gram count vector (float32, L2-normalized).

    The engine's cheap deterministic "embedding" (reference analog: the
    bi-encoder context/candidate encoders, ``blink/biencoder/biencoder.py``
    — here replaced by a seedless feature-hashing projection, per
    SURVEY.md §2.9 U1/U2).
    """
    return vectors_from_hashes([char_ngrams_hashed(text, n=n)], dim=dim)[0]
