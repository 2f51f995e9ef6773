"""Featurize: content -> MinHash / SimHash / anchor sketch (difPy O4).

Reference analogue: ``build._generate_tensor``
(`/root/reference/difPy/dif.py:229-248`) decodes an image and bicubic-
resizes it to a px_size^2 uint8 tensor — a fixed-size sketch whose
pairwise MSE approximates visual similarity. Our sketch for text/code is:

* char k-shingles of whitespace-normalized content, hashed to uint64 by a
  sliding polynomial hash + splitmix64 finalizer (deterministic, never
  Python ``hash()`` — PYTHONHASHSEED instability, SURVEY.md §4);
* **MinHash** over ``num_perm`` seeded affine permutations (estimated
  Jaccard replaces MSE, dif.py:697-717);
* **SimHash64** majority-bit fingerprint (cheap Hamming pre-filter);
* **anchor sketch** — the shingle hashes with ``h % anchor_mod == 0``
  (a uniform 1/mod sample of shingle space, smallest ``max_anchors``
  kept). Containment-safe by construction: A inside B implies
  shingles(A) subset shingles(B) implies anchors(A) subset anchors(B)
  — unlike a bottom-t MinHash sketch, which degenerates to globally
  common shingles on low-entropy corpora. Feeds the containment stage
  (the ``rotate`` analogue, dif.py:697-713).

All math is numpy over Arrow batches (pandas UDF) — no per-row Python in
the JVM<->Python crossing, per BASELINE.json ``input_hint``. The SAME
numpy kernel (`signature_of`) backs the pytest oracle, so Spark-vs-oracle
signature equality is exact, not approximate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from sparkdedup.config import DedupConfig

_U64 = np.uint64
_POLY_BASE = _U64(1099511628211)  # FNV prime as rolling base


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain constant set)."""
    x = (x + _U64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
    return x ^ (x >> _U64(31))


def normalize_text(text: str) -> str:
    """Whitespace-collapse normalization applied before shingling only —
    sha256 stays over the RAW content (per-row invariant)."""
    return " ".join(text.split())


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Unique uint64 hashes of the char k-grams of normalized ``text``.

    Sliding-window polynomial hash over the utf-8 bytes, finalized with
    splitmix64. Texts shorter than k hash as one whole-string shingle so
    exact duplicates still co-bucket.
    """
    data = np.frombuffer(normalize_text(text).encode("utf-8"), dtype=np.uint8)
    m = len(data) - k + 1
    if m <= 0:
        if len(data) == 0:
            return np.array([], dtype=_U64)
        acc = _U64(0)
        with np.errstate(over="ignore"):
            for b in data.astype(_U64):
                acc = acc * _POLY_BASE + b
        return _splitmix64(np.array([acc], dtype=_U64))
    win = np.lib.stride_tricks.sliding_window_view(data, k).astype(_U64)
    with np.errstate(over="ignore"):
        powers = _POLY_BASE ** np.arange(k - 1, -1, -1, dtype=_U64)
        raw = (win * powers).sum(axis=1, dtype=_U64)
        return np.unique(_splitmix64(raw))


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded affine permutation params (a odd, b) — deterministic."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 2**64, size=num_perm, dtype=_U64) | _U64(1)
    b = rng.integers(0, 2**64, size=num_perm, dtype=_U64)
    return a, b


def signature_of(text: str, k: int, num_perm: int, seed: int,
                 anchor_mod: int = 32, max_anchors: int = 512,
                 params: tuple[np.ndarray, np.ndarray] | None = None,
                 ) -> tuple[np.ndarray, int, int, np.ndarray]:
    """(minhash int64[num_perm], simhash int64, n_shingles,
    anchors int64[<=max_anchors]).

    Pure numpy — shared verbatim by the Spark pandas UDF and tests/oracle.
    """
    a, b = params if params is not None else minhash_params(num_perm, seed)
    h = shingle_hashes(text, k)
    if h.size == 0:
        mh = np.full(num_perm, np.iinfo(np.int64).max, dtype=np.int64)
        return mh, 0, 0, np.array([], dtype=np.int64)
    with np.errstate(over="ignore"):
        # (num_perm, m) permutation transforms, cache-blocked: a full
        # outer product streams num_perm*m*8B (~1MB/doc) of temporaries
        # through DRAM and turns 32-core runs memory-bandwidth-bound;
        # 16-perm blocks keep the working set in L2 (identical results).
        # The permutation is h -> a*h mod 2^64 with a odd (a bijection);
        # the classic affine +b term shifts values mod 2^64 and adds no
        # statistical value while costing a full vector pass — dropped
        # (round 3; b is kept in minhash_params for seed stability).
        mh_u = np.empty(num_perm, dtype=_U64)
        for s in range(0, num_perm, 16):
            e = min(s + 16, num_perm)
            mh_u[s:e] = (a[s:e, None] * h[None, :]).min(axis=1)
    mh = mh_u.view(np.int64)
    shifts = np.arange(64, dtype=_U64)
    # bit-count accumulation in shingle blocks for the same reason
    bits = np.zeros(64, dtype=np.int64)
    for s in range(0, h.size, 2048):
        blk = h[s:s + 2048]
        bits += ((blk[:, None] >> shifts[None, :]) & _U64(1)).sum(
            axis=0).astype(np.int64)
    sim_bits = (bits * 2 >= h.size).astype(np.uint64)
    simhash = int((sim_bits << shifts).sum(dtype=_U64).view(np.int64))
    anch = np.sort(h[h % _U64(anchor_mod) == 0])[:max_anchors]
    return mh, simhash, int(h.size), anch.view(np.int64)


class BatchScratch:
    """Grow-only reusable numpy buffers for the batched featurize kernel.

    A pandas-UDF worker processes thousands of Arrow batches; sizing the
    kernel's big temporaries per batch means glibc mmaps/munmaps them
    every call. That is a multicore scaling killer twice over: munmap
    broadcasts TLB-shootdown IPIs to every core, and the re-mmapped
    pages pay first-touch faults (measured on the round-3 host: the
    same 32 MB multiply runs 6 ms warm vs 4.7 s on fresh pages). Every
    large temporary therefore comes from this pool — touched once, ever
    — and the kernel's working set is L2-blocked on top.
    """

    def __init__(self) -> None:
        self._bufs: dict = {}

    def get(self, name: str, n: int, dtype) -> np.ndarray:
        buf = self._bufs.get(name)
        if buf is None or buf.size < n or buf.dtype != np.dtype(dtype):
            buf = np.empty(max(n, 16), dtype=dtype)
            self._bufs[name] = buf
        return buf[:n]

    def get2d(self, name: str, rows: int, cols: int, dtype) -> np.ndarray:
        return self.get(name, rows * cols, dtype).reshape(rows, cols)

    def iota(self, n: int) -> np.ndarray:
        buf = self._bufs.get("_iota")
        if buf is None or buf.size < n:
            buf = np.arange(max(n, 16), dtype=np.int64)
            self._bufs["_iota"] = buf
        return buf[:n]


_SM1 = _U64(0x9E3779B97F4A7C15)
_SM2 = _U64(0xBF58476D1CE4E5B9)
_SM3 = _U64(0x94D049BB133111EB)


def _splitmix64_into(x: np.ndarray, out: np.ndarray, tmp: np.ndarray
                     ) -> None:
    """``out = _splitmix64(x)`` with no fresh allocations (same op
    order as ``_splitmix64`` — bit-identical)."""
    np.add(x, _SM1, out=out)
    np.right_shift(out, _U64(30), out=tmp)
    np.bitwise_xor(out, tmp, out=out)
    np.multiply(out, _SM2, out=out)
    np.right_shift(out, _U64(27), out=tmp)
    np.bitwise_xor(out, tmp, out=out)
    np.multiply(out, _SM3, out=out)
    np.right_shift(out, _U64(31), out=tmp)
    np.bitwise_xor(out, tmp, out=out)


def _short_doc_hashes(bufs: list[bytes], lens: np.ndarray,
                      ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Whole-string polynomial hashes for docs with 0 < len < k, grouped
    by byte length so each group is one vectorized product (matches the
    scalar fallback in ``shingle_hashes`` exactly: both compute
    sum(b_i * BASE^(L-1-i)) mod 2^64)."""
    out_ids, out_hashes = [], []
    with np.errstate(over="ignore"):
        for length in np.unique(lens[ids]):
            grp = ids[lens[ids] == length]
            arr = np.stack([np.frombuffer(bufs[i], dtype=np.uint8)
                            for i in grp]).astype(_U64)
            powers = _POLY_BASE ** np.arange(length - 1, -1, -1, dtype=_U64)
            raw = (arr * powers).sum(axis=1, dtype=_U64)
            out_ids.append(grp)
            out_hashes.append(_splitmix64(raw))
    if not out_ids:
        return np.array([], dtype=np.int64), np.array([], dtype=_U64)
    return np.concatenate(out_ids), np.concatenate(out_hashes)


def _long_doc_hashes_into(bufs: list[bytes], lens: np.ndarray,
                          ids: np.ndarray, k: int, sc: BatchScratch,
                          out_d: np.ndarray, out_h: np.ndarray) -> None:
    """Sliding-window polynomial hashes for docs with len >= k into
    preallocated ``out_d``/``out_h``, computed over ONE concatenation of
    all docs' bytes: windows that would span a document boundary are
    never generated (each doc contributes exactly its own len-k+1 window
    positions), so every window hash is bit-identical to the per-doc
    ``shingle_hashes`` value."""
    total = out_h.size
    if total == 0:
        return
    concat = np.frombuffer(b"".join(bufs[i] for i in ids), dtype=np.uint8)
    doc_lens = lens[ids]
    starts = np.cumsum(doc_lens) - doc_lens           # byte offset per doc
    wins = doc_lens - k + 1
    cumw = np.cumsum(wins)
    # seq: index into `ids` per window, via boundary-marker cumsum
    seq = sc.get("ldh_seq", total, np.int64)
    seq.fill(0)
    seq[cumw[:-1]] = 1
    np.cumsum(seq, out=seq)
    # global byte position of each window: doc start + within-doc offset
    pos = sc.get("ldh_pos", total, np.int64)
    np.take(starts - (cumw - wins), seq, out=pos)
    np.add(pos, sc.iota(total), out=pos)
    np.take(ids, seq, out=out_d)
    # polynomial hash of EVERY window of the concat via k shifted
    # multiply-adds (no (step, k) gather materialization): acc[i] =
    # sum_j concat[i+j] * BASE^(k-1-j) — identical mod 2^64 to the
    # per-doc (win * powers).sum
    nwin = concat.size - k + 1
    cc64 = sc.get("ldh_cc64", concat.size, _U64)
    np.copyto(cc64, concat, casting="unsafe")
    acc = sc.get("ldh_acc", nwin, _U64)
    t = sc.get("ldh_t", nwin, _U64)
    with np.errstate(over="ignore"):
        for j in range(k):
            powj = _POLY_BASE ** _U64(k - 1 - j)
            if j == 0:
                np.multiply(cc64[j:j + nwin], powj, out=acc)
            else:
                np.multiply(cc64[j:j + nwin], powj, out=t)
                np.add(acc, t, out=acc)
        _splitmix64_into(acc, acc, t)
    # gather only the windows that do not span a doc boundary
    np.take(acc, pos, out=out_h)


_PERM_BLOCK = 16       # minhash affine-transform block (L2-resident)
_POOL_BLOCK = 16384    # shingle-pool block: hh slice + affine temp fit L2


def signatures_of_batch(texts: list, k: int, num_perm: int, seed: int,
                        anchor_mod: int = 32, max_anchors: int = 512,
                        params: tuple[np.ndarray, np.ndarray] | None = None,
                        scratch: BatchScratch | None = None,
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray, list]:
    """Batched ``signature_of``: one vectorized pass over ALL documents.

    Returns ``(minhash int64[n, num_perm], simhash int64[n],
    n_shingles int64[n], anchors list[int64 array])`` — bit-identical to
    calling ``signature_of`` per document (asserted by
    tests/test_signatures.py). The per-document version dispatched ~10
    numpy calls per doc (301us/doc at 300 chars — pure dispatch, the
    round-2 scaling bottleneck); here the shingle pool of the WHOLE
    batch carries doc labels and is doc-contiguous by construction,
    per-doc dedup is a tiny in-place sort per segment, and MinHash
    minima / SimHash bit counts are ``reduceat`` segment reductions
    over L2-sized pool blocks.

    Dedup trick: the sorted pool is never compressed. MinHash minima are
    duplicate-insensitive; for SimHash bit counts duplicates are zeroed
    (a zero hash contributes no bits), and n_shingles / anchors use the
    keep mask directly — no compaction pass, no fresh arrays.

    When ``scratch`` is passed, returned arrays are views into it and
    are only valid until the next call with the same scratch (the UDF
    serializes each batch before the next one starts).
    """
    a, b = params if params is not None else minhash_params(num_perm, seed)
    sc = scratch if scratch is not None else BatchScratch()
    n = len(texts)
    i64max_bits = _U64(np.iinfo(np.int64).max)
    mh_u64 = sc.get2d("mh_out", n, num_perm, _U64)
    mh_u64.fill(i64max_bits)
    mh_out = mh_u64.view(np.int64)
    sim_out = sc.get("sim_out", n, np.int64)
    sim_out.fill(0)
    cnt_out = sc.get("cnt_out", n, np.int64)
    cnt_out.fill(0)
    anch_out: list = [_EMPTY_I64] * n
    bufs = [normalize_text(t or "").encode("utf-8") for t in texts]
    lens = np.array([len(x) for x in bufs], dtype=np.int64)

    long_ids = np.flatnonzero(lens >= k)
    short_ids = np.flatnonzero((lens > 0) & (lens < k))
    d_short, h_short = _short_doc_hashes(bufs, lens, short_ids)
    n_long = int((lens[long_ids] - k + 1).sum()) if long_ids.size else 0
    n_pool = n_long + h_short.size
    if n_pool == 0:
        return mh_out, sim_out, cnt_out, anch_out
    dpool = sc.get("dpool", n_pool, np.int64)
    hpool = sc.get("hpool", n_pool, _U64)
    _long_doc_hashes_into(bufs, lens, long_ids, k, sc,
                          dpool[:n_long], hpool[:n_long])
    dpool[n_long:] = d_short
    hpool[n_long:] = h_short

    # the pool is doc-contiguous BY CONSTRUCTION (long docs in id order,
    # one tail hash per short doc), so segments are runs of equal d —
    # no global sort of doc labels needed
    d, h = dpool, hpool
    seg_starts = np.flatnonzero(_doc_bounds(d, sc))
    pres = d[seg_starts]                       # original doc index per seg
    seg_ends = np.empty(seg_starts.size, dtype=np.int64)
    seg_ends[:-1] = seg_starts[1:]
    seg_ends[-1] = n_pool
    # per-doc unique needs each segment sorted: tiny in-place sorts
    # (~2us/doc) beat a global lexsort of the pool ~100x on this host
    for j in range(seg_starts.size):
        if seg_ends[j] - seg_starts[j] > 1:
            h[seg_starts[j]:seg_ends[j]].sort()
    kb = sc.get("keepb", n_pool, bool)
    tb = sc.get("keept", n_pool, bool)
    kb[0] = True
    np.not_equal(d[1:], d[:-1], out=kb[1:])
    np.not_equal(h[1:], h[:-1], out=tb[1:])
    np.logical_or(kb[1:], tb[1:], out=kb[1:])
    ku = sc.get("keepu", n_pool, _U64)
    np.copyto(ku, kb, casting="unsafe")
    # hm: duplicates zeroed — contribute nothing to bit counts
    hm = sc.get("hmask", n_pool, _U64)
    np.multiply(h, ku, out=hm)
    n_unique = np.add.reduceat(ku, seg_starts)        # unique per doc
    cnt_out[pres] = n_unique.view(np.int64)

    shifts = np.arange(64, dtype=_U64)[:, None]
    with np.errstate(over="ignore"):
        c0 = 0
        while c0 < seg_starts.size:
            # block of whole docs, ~_POOL_BLOCK pool entries
            c1 = int(np.searchsorted(seg_ends,
                                     seg_starts[c0] + _POOL_BLOCK, "left"))
            c1 = max(c1, c0 + 1)
            g0, g1 = int(seg_starts[c0]), int(seg_ends[c1 - 1])
            hh = h[g0:g1]
            loc = seg_starts[c0:c1] - g0
            docs = pres[c0:c1]
            ndocs = docs.size
            # --- MinHash: affine transform in L2-sized blocks, segment
            #     minima via reduceat (duplicate rows are harmless)
            mbuf = sc.get2d("affine", _PERM_BLOCK, g1 - g0, _U64)
            rout = sc.get2d("redmin", _PERM_BLOCK, ndocs, _U64)
            for s in range(0, num_perm, _PERM_BLOCK):
                e = min(s + _PERM_BLOCK, num_perm)
                w = e - s
                np.multiply(a[s:e, None], hh[None, :], out=mbuf[:w])
                np.minimum.reduceat(mbuf[:w], loc, axis=1, out=rout[:w])
                mh_u64[docs, s:e] = rout[:w].T
            # --- SimHash: per-bit segment counts over the zeroed-dup
            #     view (64, blk) — one reduceat per block
            bits = sc.get2d("bits", 64, g1 - g0, _U64)
            hmb = hm[g0:g1]
            np.right_shift(hmb[None, :], shifts, out=bits)
            np.bitwise_and(bits, _U64(1), out=bits)
            bsum = np.add.reduceat(bits, loc, axis=1)     # (64, ndocs)
            np.multiply(bsum, _U64(2), out=bsum)
            simb = bsum >= n_unique[c0:c1][None, :]
            simv = (simb.astype(_U64) << shifts).sum(axis=0, dtype=_U64)
            sim_out[docs] = simv.view(np.int64)
            c0 = c1

    # --- anchors: keep & (h % mod == 0); sorted within each segment
    t64 = sc.get("anch64", n_pool, _U64)
    np.remainder(h, _U64(anchor_mod), out=t64)
    np.equal(t64, _U64(0), out=tb)
    np.logical_and(tb, kb, out=tb)
    sel = np.flatnonzero(tb)
    if sel.size:
        vals = h[sel].view(np.int64)          # fresh, anchors-only sized
        bnds = np.searchsorted(sel, seg_starts)
        npres = seg_starts.size
        for j in range(npres):
            s0 = bnds[j]
            s1 = bnds[j + 1] if j + 1 < npres else sel.size
            if s1 > s0:
                anch_out[pres[j]] = vals[s0:min(s1, s0 + max_anchors)]
    return mh_out, sim_out, cnt_out, anch_out


_EMPTY_I64 = np.array([], dtype=np.int64)


def _doc_bounds(d: np.ndarray, sc: BatchScratch) -> np.ndarray:
    """Boolean mask: position starts a new doc segment in sorted pool."""
    m = sc.get("bound", d.size, bool)
    m[0] = True
    np.not_equal(d[1:], d[:-1], out=m[1:])
    return m


#: MinHash travels as ONE array<long> column (num_perm int64 lanes).
#: Round 1 used a packed binary column, but the JVM consumers then pay
#: per-lane ``substring()`` byte-array allocations: the 128-lane
#: agreement expression measured 6x slower (and far noisier under GC)
#: than ``zip_with`` over array<long> at 1M pairs, and band keys slice
#: with the same pathology. Arrow list<int64> transfer of a numpy row
#: block is cheap with the batched kernel (one bulk copy per sub-batch,
#: row views into it).
SIGNATURE_FIELDS = T.StructType([
    T.StructField("minhash", T.ArrayType(T.LongType()), False),
    T.StructField("simhash", T.LongType(), False),
    T.StructField("n_shingles", T.LongType(), False),
    T.StructField("anchors", T.ArrayType(T.LongType()), False),
])


def make_signature_udf(cfg: DedupConfig):
    """Arrow-vectorized pandas UDF: content -> signature struct.

    One Python worker invocation per Arrow batch (maxRecordsPerBatch
    rows); inner loop is numpy per document. This is the process
    boundary that replaces difPy's Pool.starmap (dif.py:189-213).
    """
    k, num_perm, seed = cfg.shingle_k, cfg.num_perm, cfg.seed
    anchor_mod, max_anchors = cfg.anchor_mod, cfg.max_anchors

    state: dict = {}  # per-worker: params + scratch survive across batches

    @pandas_udf(SIGNATURE_FIELDS)
    def signature(content: pd.Series) -> pd.DataFrame:
        if not state:
            state["params"] = minhash_params(num_perm, seed)
            state["scratch"] = BatchScratch()
        texts = list(content)
        # character-bounded sub-batches keep every scratch buffer a few
        # MB: Spark python workers start COLD per job, and on
        # virtualized hosts first-touch page faults on ~100 MB of
        # batch-sized pool buffers cost more than the math (measured
        # 16 s vs 2 s for the same 5k-doc batch on the round-3 host)
        bounds, start, chars = [], 0, 0
        for i, t in enumerate(texts):
            chars += len(t) if t else 0
            if chars >= _SUB_BATCH_CHARS:
                bounds.append((start, i + 1))
                start, chars = i + 1, 0
        if start < len(texts):
            bounds.append((start, len(texts)))
        mhs: list = []
        sims_p: list = []
        cnts_p: list = []
        anchors: list = []
        for s, e in bounds:
            mh, sims, counts, anch = signatures_of_batch(
                texts[s:e], k, num_perm, seed, anchor_mod, max_anchors,
                state["params"], state["scratch"])
            # one bulk copy off the reused scratch buffer (mh is a view
            # into it); the rows appended below are views into the copy
            le = mh.astype(np.int64, copy=False).copy()
            mhs.extend(iter(le))
            sims_p.append(sims.copy())   # scratch-backed: copy before
            cnts_p.append(counts.copy())  # the next sub-batch reuses it
            anchors.extend(anch)
        return pd.DataFrame({
            "minhash": mhs,
            "simhash": (np.concatenate(sims_p) if sims_p
                        else np.array([], dtype=np.int64)),
            "n_shingles": (np.concatenate(cnts_p) if cnts_p
                           else np.array([], dtype=np.int64)),
            "anchors": anchors,
        })

    return signature


#: sub-batch budget for the UDF: bounds the shingle pool (and therefore
#: every BatchScratch buffer) regardless of Arrow batch size
_SUB_BATCH_CHARS = 200_000


def with_signature(df: DataFrame, cfg: DedupConfig,
                   col: str = "content") -> DataFrame:
    sig = make_signature_udf(cfg)
    return (df.withColumn("_sig", sig(F.col(col)))
              .withColumn("minhash", F.col("_sig.minhash"))
              .withColumn("simhash", F.col("_sig.simhash"))
              .withColumn("n_shingles", F.col("_sig.n_shingles"))
              .withColumn("anchors", F.col("_sig.anchors"))
              .drop("_sig"))
