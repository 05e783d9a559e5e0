"""Pure numpy Gotoh (affine-gap Needleman-Wunsch) kernel, cost-space.

Reproduces the alignment semantics of the reference engine exactly
(scores/costs bit-for-bit):
  - DP init:       /root/reference/src/globalign/globaligner.py:756-821
  - forward pass:  /root/reference/src/globalign/globaligner.py:317-392
  - traceback:     /root/reference/src/globalign/globaligner.py:395-593
  - final cost:    min over 3 levels at (m, n)  (globaligner.py:425)

but is architected for Spark: :func:`align_cost_batch` scores a whole batch
of pairs at once with numpy row sweeps vectorized **across the batch** (one
python-level loop over rows, everything else SIMD), using rolling rows
(O(batch * n) memory, no full tables). This is what runs inside the Arrow
pandas UDF on executors. :func:`align_full` is the single-pair path with
full tables + deterministic traceback, used for parity tests and sampled
audits.

Three DP "levels" as in the reference:
  level 0 (M): last move was match/mismatch (diagonal)
  level 1 (I): last move was a gap in seq_1 (horizontal, consumes seq_2)
  level 2 (D): last move was a gap in seq_2 (vertical, consumes seq_1)

Recurrence (costs, all integer):
  M[i,j] = min(M,I,D)[i-1,j-1] + cost(a_i, b_j)
  I[i,j] = min(M[i,j-1]+go, I[i,j-1], D[i,j-1]+go) + cost('-', b_j)
  D[i,j] = min(M[i-1,j]+go, I[i-1,j]+go, D[i-1,j]) + cost(a_i, '-')

The I-row is a prefix-scan, vectorized with the classic transform
  I[i,j] = cumc[j] + min( I[i,0]-cumc[0], min_{k<j} (G[k] - cumc[k]) ),
  G[k] = min(M[i,k], D[i,k]) + go,  cumc[j] = sum_{t<=j} cost('-', b_t)
so each row is O(n) numpy ops with `np.minimum.accumulate` — no inner loop.
"""

from __future__ import annotations

import numpy as np

from .config import AlignParams
from .matrices import costing_mat_to_luts, get_max_val, deltas


def encode(seq: str) -> np.ndarray:
    """ASCII code points as uint8. Sequences are validated upstream to be
    ASCII without the reserved gap character '-'."""
    return np.frombuffer(seq.encode("ascii"), dtype=np.uint8)


class CompiledParams:
    """AlignParams compiled to numpy LUTs; built once per executor task.

    Also pre-analyzes the substitution LUT for the batch kernel's fast path:
    when every in-alphabet diagonal entry is one constant and every
    off-diagonal entry another (true for unit/Levenshtein costs and any
    simple match/mismatch scheme — the pipeline's hot configuration), the
    per-row 2D LUT gather collapses to a byte comparison, and all lattice
    values fit in int16 for realistic document lengths.
    """

    __slots__ = ("sub", "dele", "ins", "go", "max_cost", "max_score",
                 "delta_d", "delta_i", "alpha_pad_mask", "uniform_sub",
                 "dele_alpha_max", "ins_alpha_max",
                 "dele_alpha_min", "ins_alpha_min", "is_unit_cost")

    def __init__(self, params: AlignParams):
        costing = params.costing_dict()
        self.sub, self.dele, self.ins = costing_mat_to_luts(costing)
        self.go = int(params.gap_open_cost)
        self.max_cost = int(get_max_val(costing))
        self.max_score = int(params.max_score)
        self.delta_d, self.delta_i = deltas(self.max_score)

        unknown = 1 << 20
        diag = np.diagonal(self.sub)
        known = np.nonzero(
            (diag < unknown) & (self.dele < unknown) & (self.ins < unknown)
        )[0]
        # Padding byte 0 is allowed through the fast-path char check (those
        # lattice cells are never extracted).
        self.alpha_pad_mask = np.zeros(self.sub.shape[0], dtype=bool)
        self.alpha_pad_mask[known] = True
        self.alpha_pad_mask[0] = True
        self.dele_alpha_max = int(self.dele[known].max()) if known.size else 0
        self.ins_alpha_max = int(self.ins[known].max()) if known.size else 0
        self.dele_alpha_min = int(self.dele[known].min()) if known.size else 1
        self.ins_alpha_min = int(self.ins[known].min()) if known.size else 1
        self.uniform_sub = None
        if known.size:
            sq = self.sub[np.ix_(known, known)]
            d0 = int(sq[0, 0])
            if (np.diagonal(sq) == d0).all():
                off = sq[~np.eye(known.size, dtype=bool)]
                if off.size == 0 or (off == off.flat[0]).all():
                    o0 = int(off.flat[0]) if off.size else d0
                    self.uniform_sub = (d0, o0)
        # Plain Levenshtein shape: match 0 / mismatch 1 / every in-alphabet
        # gap step 1 / no gap-open surcharge. This is the pipeline's default
        # configuration (config.unit_cost_params) and unlocks the Myers
        # bit-parallel fast path in align_cost_batch.
        self.is_unit_cost = (
            self.go == 0
            and self.uniform_sub == (0, 1)
            and self.dele_alpha_min == 1 and self.dele_alpha_max == 1
            and self.ins_alpha_min == 1 and self.ins_alpha_max == 1
        )

    def final_score(self, cost: np.ndarray, m: np.ndarray, n: np.ndarray):
        """score = n*delta_d + m*delta_i - cost (conclude.py:154-177)."""
        return n * self.delta_d + m * self.delta_i - cost


def _prefix_min_inplace(W: np.ndarray) -> None:
    """In-place inclusive prefix-min along axis 0.

    Brent-Kung two-sweep scan: each step is a vectorized ``minimum`` over
    strided row slabs (rows stay contiguous, so cache lines are fully
    used). Work-efficient — ~2n element reads + ~2n writes total versus
    n*log2(n) for the doubling scan and a scalar per-element loop for
    ``np.minimum.accumulate``; the bandwidth saving is what matters when
    every core runs a scorer task. Overlapping in/out is safe for
    min-scans: extra propagation only ever re-mins valid prefix values.
    """
    L = W.shape[0]
    d = 1
    while d < L:  # up-sweep: block roots hold block minima
        a = W[2 * d - 1 :: 2 * d]
        b = W[d - 1 :: 2 * d][: a.shape[0]]
        np.minimum(a, b, out=a)
        d <<= 1
    d >>= 1
    while d >= 1:  # down-sweep: propagate prefixes into block interiors
        a = W[2 * d + d - 1 :: 2 * d]
        b = W[2 * d - 1 :: 2 * d][: a.shape[0]]
        np.minimum(a, b, out=a)
        d >>= 1


import os as _os

# Myers bit-parallel path toggle (A/B lever for benches; on by default).
_MYERS_ON = _os.environ.get("GA_MYERS", "1") != "0"

_U1 = np.uint64(1)
_U63 = np.uint64(63)
_FULL64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _myers_unit_cost_batch(
    A: np.ndarray, T: np.ndarray, m: np.ndarray, n: np.ndarray
) -> np.ndarray:
    """Exact Levenshtein for a batch of pairs via blocked Myers bit-vectors.

    Myers (J.ACM 1999) packs one DP anti-column per machine word: the
    vertical delta column D[*,j] - D[*,j-1] (values in {-1,0,+1}) is held
    as two bitmasks VP/VN, and one text character updates all 64 pattern
    rows of a word with ~15 bitwise ops. Hyyro's global-distance variant
    is used (the ``(HP << 1) | 1`` boundary carry encodes D(0,j) = j).
    The reference computes the same distance as a dense Python DP
    (/root/reference/src/globalign/globaligner.py:317-392); this path is
    the unit-cost specialization, bit-for-bit equal to the Gotoh sweep
    (fuzzed in tests/test_kernel_myers.py).

    Layout: every per-word state lives in ROW w of a C-contiguous (W, B)
    uint64 block, so the word-independent steps (D0/HP/HN/VP/VN logic,
    Eq gather, score-bit masking, the shift-by-one with its cross-word
    bit carries) each run as ONE numpy op over the whole block — only
    the addition's carry propagation iterates over words. Per-pair
    pattern lengths vary inside the batch: bits at rows >= m_p are
    garbage but harmless, because carries only travel from low rows to
    high rows, so bit m_p - 1 never reads them. Each pair's score bit is
    isolated with a (W, B) mask + OR-reduce, and its running score is
    captured when its text is fully consumed (captures pre-grouped by
    text length).

    ``A``/``T`` are the encoded, zero-padded (B, m_max)/(B, n_max) uint8
    arrays from align_cost_batch; ``m``/``n`` the true lengths.
    """
    B, m_max = A.shape
    n_max = T.shape[1]
    W = (m_max + 63) >> 6
    mp = W << 6

    # Dense alphabet remap (presence scan, no sort): webtext is <~100
    # distinct bytes, so the per-iteration Eq gather tables stay in L2.
    present = np.zeros(256, dtype=bool)
    present[A.reshape(-1)] = True
    present[T.reshape(-1)] = True
    used = np.nonzero(present)[0]
    lut = np.zeros(256, dtype=np.uint8)
    lut[used] = np.arange(used.size, dtype=np.uint8)
    nA = int(used.size)
    Ad = np.zeros((B, mp), dtype=np.uint8)
    Ad[:, :m_max] = lut[A]
    Td = lut[T].astype(np.int64)

    # Peq[w, p, c]: bit i of word w set iff pattern p's row 64w+i is char
    # c. Built with one bool-compare + packbits pass per 16-char alphabet
    # slab (bounds the bool intermediate at ~B*16*mp bytes), then
    # transposed word-major once. Padding byte 0 maps to id lut[0]; its
    # bits sit at rows >= m_p only (real text never contains byte 0), so
    # no masking is needed.
    Pq = np.empty((B, nA, W), dtype=np.uint64)
    ids = np.arange(nA, dtype=np.uint8)
    for a0 in range(0, nA, 16):
        a1 = min(a0 + 16, nA)
        eq = Ad[:, None, :] == ids[None, a0:a1, None]
        Pq[:, a0:a1] = np.packbits(eq, axis=-1, bitorder="little").view(
            np.uint64
        )
    Peqf = np.ascontiguousarray(Pq.transpose(2, 0, 1)).reshape(-1)

    wi = np.arange(W, dtype=np.int64)
    bits = np.clip(m[:, None] - 64 * wi[None, :], 0, 64)
    VP = np.ascontiguousarray(
        np.where(
            bits >= 64, _FULL64, (_U1 << bits.astype(np.uint64)) - _U1
        ).astype(np.uint64).T
    )  # (W, B): ones at rows < m_p
    VN = np.zeros((W, B), dtype=np.uint64)
    score = m.astype(np.int64)
    sw = (m - 1) >> 6
    sb = _U1 << ((m - 1) & 63).astype(np.uint64)
    SB = np.where(sw[None, :] == wi[:, None], sb[None, :], np.uint64(0))

    out = np.empty(B, dtype=np.int64)
    base = (wi[:, None] * B + np.arange(B)[None, :]) * nA  # flat Peq base
    tix = np.empty((W, B), dtype=np.int64)
    Eq = np.empty((W, B), dtype=np.uint64)
    X = np.empty((W, B), dtype=np.uint64)
    S = np.empty((W, B), dtype=np.uint64)
    D0 = np.empty((W, B), dtype=np.uint64)
    HP = np.empty((W, B), dtype=np.uint64)
    HN = np.empty((W, B), dtype=np.uint64)
    CI = np.empty((W, B), dtype=np.uint64)
    CI2 = np.empty((W, B), dtype=np.uint64)
    t_ = np.empty(B, dtype=np.uint64)
    c1 = np.empty(B, dtype=bool)
    c2 = np.empty(B, dtype=bool)
    cb = np.empty(B, dtype=bool)
    carry = np.empty(B, dtype=np.uint64)
    last = W - 1

    # Capture schedule grouped by text length (replaces a nonzero() scan
    # per iteration).
    order = np.argsort(n, kind="stable")
    starts = np.searchsorted(n[order], np.arange(1, n_max + 2))

    for j in range(1, n_max + 1):
        np.add(base, Td[:, j - 1][None, :], out=tix)
        Peqf.take(tix, out=Eq)
        # D0 = (((Eq & VP) + VP) ^ VP) | Eq | VN; the addition is word-
        # local first, then carries ripple word to word (carry-out: sum
        # wrapped below an addend, or landed exactly on it while
        # consuming a carry-in).
        np.bitwise_and(Eq, VP, out=X)
        np.add(X, VP, out=S)
        for w in range(last):
            s_ = S[w]
            xv = X[w]
            if w == 0:
                np.less(s_, xv, out=c1)
            else:
                np.add(s_, carry, out=s_)
                np.less(s_, xv, out=c1)
                np.equal(s_, xv, out=c2)
                np.not_equal(carry, 0, out=cb)
                np.bitwise_and(c2, cb, out=c2)
                np.bitwise_or(c1, c2, out=c1)
            carry[:] = c1
        if last:
            np.add(S[last], carry, out=S[last])
        np.bitwise_xor(S, VP, out=D0)
        np.bitwise_or(D0, Eq, out=D0)
        np.bitwise_or(D0, VN, out=D0)
        np.bitwise_or(D0, VP, out=HP)
        np.invert(HP, out=HP)
        np.bitwise_or(HP, VN, out=HP)
        np.bitwise_and(VP, D0, out=HN)
        # Per-pair score delta at bit m_p - 1 of word sw_p.
        np.bitwise_and(HP, SB, out=CI)
        np.bitwise_or.reduce(CI, axis=0, out=t_)
        np.not_equal(t_, 0, out=c1)
        score += c1
        np.bitwise_and(HN, SB, out=CI)
        np.bitwise_or.reduce(CI, axis=0, out=t_)
        np.not_equal(t_, 0, out=c1)
        score -= c1
        # Shift HP/HN up one row across the whole block; bit 0 of word 0
        # gets the D(0,j) = j boundary (+1 horizontal delta).
        np.right_shift(HP[:last], _U63, out=CI[1:])
        CI[0] = 1
        np.left_shift(HP, _U1, out=HP)
        np.bitwise_or(HP, CI, out=HP)
        np.right_shift(HN[:last], _U63, out=CI2[1:])
        CI2[0] = 0
        np.left_shift(HN, _U1, out=HN)
        np.bitwise_or(HN, CI2, out=HN)
        np.bitwise_or(HP, D0, out=VP)
        np.invert(VP, out=VP)
        np.bitwise_or(VP, HN, out=VP)
        np.bitwise_and(HP, D0, out=VN)
        s0, s1 = starts[j - 1], starts[j]
        if s1 > s0:
            cap = order[s0:s1]
            out[cap] = score[cap]
    return out


def align_cost_batch(
    seqs1: list[str],
    seqs2: list[str],
    cp: CompiledParams,
    band: int | None = None,
) -> np.ndarray:
    """Minimal alignment costs for a batch of pairs (int64 array, len B).

    Vectorized across the batch: pads to the batch max lengths and sweeps
    rows once; per-pair results are captured at row m_p, column n_p (padding
    rows/columns never influence cells inside a pair's true table because
    the DP only reads up-and-left).

    Lattices are stored transposed — shape (n_max+1, B) — so the level-1
    prefix-min scan runs over fully contiguous slabs. Two data paths:
      - fast: uniform match/mismatch LUT (cp.uniform_sub) and all batch
        chars in-alphabet → substitution costs come from a byte comparison
        (no 2D gather), lattices in int16 when the value bound allows.
      - generic: int32 lattices + 2D LUT gather; preserves the reference's
        absurd-cost sentinel semantics for out-of-alphabet characters.

    ``band`` enables Ukkonen banding for thresholded scoring: only cells
    with |i - j| <= band are computed (the same sweep over sliced column
    views, plus a bign patch on the column entering the band each row so
    stale values can't leak in). Any alignment path that leaves the band
    makes > band off-diagonal moves, each costing at least the cheapest
    gap step — so for every pair whose true cost is <= band *
    min_gap_step_cost the banded result is EXACT, and a banded result
    above that bound certifies the true cost is above it too. Pairs with
    |m - n| > band are returned as their bign sentinel without sweeping.
    The reference computes the full dense table and cites banding as an
    aspiration only (/root/reference/README.md:100-113).

    Unit-cost configs (the pipeline default) dispatch to the Myers
    bit-parallel path instead, which returns the EXACT cost for every
    pair regardless of ``band`` — strictly stronger than the banded
    contract (exact in-cap, self-certifying over-cap).
    """
    B = len(seqs1)
    if B == 0:
        return np.empty(0, dtype=np.int64)
    m = np.array([len(s) for s in seqs1], dtype=np.int64)
    n = np.array([len(s) for s in seqs2], dtype=np.int64)
    if (m == 0).any() or (n == 0).any():
        raise ValueError("zero-length sequence in batch")
    m_max = int(m.max())
    n_max = int(n.max())

    # Vectorized batch encode: one fixed-width-bytes conversion instead
    # of a per-pair frombuffer loop (ASCII validated upstream; shorter
    # strings zero-pad, same as the old loop).
    A = np.asarray(seqs1, dtype=f"S{m_max}").view(np.uint8).reshape(
        B, m_max
    )
    Bc = np.asarray(seqs2, dtype=f"S{n_max}").view(np.uint8).reshape(
        B, n_max
    )
    BcT = np.ascontiguousarray(Bc.T)  # (n_max, B)

    in_alpha = bool(cp.alpha_pad_mask[A].all()) and bool(
        cp.alpha_pad_mask[Bc].all()
    )

    if cp.is_unit_cost and in_alpha and _MYERS_ON:
        # Myers bit-parallel fast path: EXACT Levenshtein, ~64 DP cells
        # per word-op. Exactness subsumes every banded-call contract
        # (exact == full <= any banded bound; over-cap pairs certify
        # themselves), so ``band`` needs no handling here. The pattern
        # side is the one with the larger max length: total word-ops
        # ~ ceil(max_pat/64) * max_text either way, but the python-level
        # loop (numpy dispatch overhead) runs over the text side.
        if n_max > m_max:
            return _myers_unit_cost_batch(Bc, A, n, m)
        return _myers_unit_cost_batch(A, Bc, m, n)

    use_cmp = cp.uniform_sub is not None and in_alpha
    dt = np.int32
    if use_cmp:
        d0, o0 = cp.uniform_sub
        c_max = max(d0, o0, cp.dele_alpha_max, cp.ins_alpha_max, 0)
        # Conservative bound on any lattice/scan value during the sweep.
        vbound = (
            (cp.max_cost + 1) * max(m_max, n_max)
            + (m_max + 1) * (c_max + cp.go)
            + n_max * cp.dele_alpha_max
            + cp.go
            + 16
        )
        if vbound < 32000:
            dt = np.int16
    go = dt(cp.go)

    # Padding byte 0 clamps the gap LUTs to 0 so cumulative sums stay flat
    # past a pair's true width (those cells are never read).
    dele64 = cp.dele.copy()
    ins64 = cp.ins.copy()
    dele64[0] = 0
    ins64[0] = 0
    sub_lut = None if use_cmp else cp.sub.astype(np.int32)

    # Reference big-number sentinel, per pair: (max_cost + 1) * max(m, n)
    # (globaligner.py:777). Kept exact for bit-parity in edge regimes.
    bign = ((cp.max_cost + 1) * np.maximum(m, n)).astype(dt)  # (B,)

    # cumc[j] = sum_{t<=j} cost('-', b_t) per pair (index 0 = 0).
    cumc64 = np.zeros((n_max + 1, B), dtype=np.int64)
    np.cumsum(dele64[BcT], axis=0, out=cumc64[1:])
    cumc = cumc64.astype(dt)
    cumc_mg = cumc - go  # folds the +go of the scan transform into one pass
    vstep = ins64[A].astype(dt)  # (B, m_max) vertical step cost per row

    # Row 0 init (globaligner.py:778-809): corner (0,0,0); level-1 chain
    # along the top row opens one gap then extends.
    Mrow = np.empty((n_max + 1, B), dtype=dt)
    Mrow[:] = bign[None, :]
    Irow = go + cumc
    Drow = Mrow.copy()
    Mrow[0] = 0
    Irow[0] = 0
    Drow[0] = 0

    out = np.empty(B, dtype=np.int64)

    # Preallocated scratch (reused every row; all ops write via out=). The
    # slab count IS the scale lever here: every row sweep touches each slab
    # once, and the whole set must stay inside the per-core L2 (2 MiB on
    # this box) or 32 concurrent scorer tasks saturate the shared L3/DRAM.
    # prevmin/subbuf were eliminated by fusing into MI/Mnew (two fewer
    # (n,B) slabs of traffic per row).
    Mnew = np.empty_like(Mrow)
    Dnew = np.empty_like(Mrow)
    Inew = np.empty_like(Mrow)
    MI = np.empty_like(Mrow)
    W = np.empty_like(Mrow)
    if use_cmp:
        neq = np.empty((n_max, B), dtype=bool)
        od = dt(o0 - d0)
        dd = dt(d0)

    for i in range(1, m_max + 1):
        ai = A[:, i - 1]
        vcost = vstep[:, i - 1]

        if band is None:
            lo, hi = 0, n_max
        else:
            lo = max(0, i - band)
            hi = min(n_max, i + band)
            if lo > n_max:
                # Band is past every column: no computable cells this row.
                # Any pair finishing here is |m-n| > band and gets the
                # sentinel in the final overwrite.
                continue
            if i >= 2 and hi == i + band:
                # Column hi enters the band this row: the previous row
                # never computed it (its stored value is the row-0 init,
                # an underestimate for row i-1) — mask it as unreachable.
                Mrow[hi] = bign
                Irow[hi] = bign
                Drow[hi] = bign
        sl = slice(lo, hi + 1)
        j0 = max(lo, 1)  # first column with a diagonal predecessor
        # The diagonal step reads the previous row at j0-1, one column LEFT
        # of this row's band — extend the prev-row min slices to cover it
        # (that column was inside the previous row's band, so it's fresh).
        slp = slice(j0 - 1, hi + 1)

        # Shared min of levels 0/1 from the previous row.
        np.minimum(Mrow[slp], Irow[slp], out=MI[slp])

        # Level 2 (vertical): min(min(M,I)+go, D) + cost(a_i,'-'). Column 0
        # follows the reference's border chain: open once at i == 1, then
        # pure extension (globaligner.py:812-819).
        np.add(MI[sl], go, out=Dnew[sl])
        np.minimum(Dnew[sl], Drow[sl], out=Dnew[sl])
        Dnew[sl] += vcost[None, :]
        if lo == 0:
            if i == 1:
                Dnew[0] = go + vcost
            else:
                Dnew[0] = Drow[0] + vcost

        # Level 0 (diagonal): min over all 3 previous levels + sub cost.
        # MI is dead after Dnew above, so the 3-level prev-row min fuses
        # into it in place (no separate prevmin slab).
        np.minimum(MI[slp], Drow[slp], out=MI[slp])
        if use_cmp:
            # Substitution costs materialize directly into Mnew's target
            # rows (bool*scalar -> int16), no subbuf slab.
            nq = neq[j0 - 1 : hi]
            mslice = Mnew[j0 : hi + 1]
            np.not_equal(ai[None, :], BcT[j0 - 1 : hi], out=nq)
            np.multiply(nq, od, out=mslice)
            if dd:
                mslice += dd
            mslice += MI[j0 - 1 : hi]
        else:
            sb = sub_lut[ai[None, :], BcT[j0 - 1 : hi]]
            np.add(MI[j0 - 1 : hi], sb, out=Mnew[j0 : hi + 1])
        if lo == 0:
            Mnew[0] = bign

        # Level 1 (horizontal) via prefix-min scan:
        # I[i,j] = cumc[j] + min_{k<j} (min(M[i,k],D[i,k]) + go - cumc[k]).
        # The scan is seeded at the band's left edge with bign (column 0's
        # I level, or band confinement for lo > 0).
        np.minimum(Mnew[sl], Dnew[sl], out=W[sl])
        W[sl] -= cumc_mg[sl]
        np.minimum(W[lo], bign, out=W[lo])
        _prefix_min_inplace(W[sl])
        np.add(cumc[lo + 1 : hi + 1], W[lo:hi], out=Inew[lo + 1 : hi + 1])
        Inew[lo] = bign

        Mrow, Mnew = Mnew, Mrow
        Irow, Inew = Inew, Irow
        Drow, Dnew = Dnew, Drow

        done = np.nonzero(m == i)[0]
        if done.size:
            nj = n[done]
            out[done] = np.minimum(
                np.minimum(Mrow[nj, done], Irow[nj, done]), Drow[nj, done]
            ).astype(np.int64)
    if band is not None:
        # |m-n| > band pairs never have an in-band sink cell; their
        # extraction read stale values. Certify them as over-band via the
        # reference sentinel (caller treats cost > its cap as pruned).
        off = np.abs(m - n) > band
        if off.any():
            out[off] = ((cp.max_cost + 1) * np.maximum(m, n))[off]
    return out


def align_score_batch(seqs1, seqs2, params: AlignParams):
    """(cost, score) int64 arrays for a batch of pairs."""
    cp = CompiledParams(params)
    cost = align_cost_batch(seqs1, seqs2, cp)
    m = np.array([len(s) for s in seqs1], dtype=np.int64)
    n = np.array([len(s) for s in seqs2], dtype=np.int64)
    return cost, cp.final_score(cost, m, n)


def _dp_tables(seq_1: str, seq_2: str, cp: CompiledParams):
    """Full (m+1, n+1) M/I/D tables for one pair (for traceback/tests)."""
    m, n = len(seq_1), len(seq_2)
    a = encode(seq_1)
    b = encode(seq_2)
    go = np.int64(cp.go)
    bign = np.int64((cp.max_cost + 1) * max(m, n))

    hcost = np.zeros(n + 1, dtype=np.int64)
    hcost[1:] = cp.dele[b]
    cumc = np.cumsum(hcost)

    M = np.full((m + 1, n + 1), bign, dtype=np.int64)
    I = np.full((m + 1, n + 1), bign, dtype=np.int64)
    D = np.full((m + 1, n + 1), bign, dtype=np.int64)
    M[0, 0] = I[0, 0] = D[0, 0] = 0
    I[0, 1:] = go + cumc[1:]
    vcosts = cp.ins[a].astype(np.int64)
    D[1:, 0] = go + np.cumsum(vcosts)

    for i in range(1, m + 1):
        vc = vcosts[i - 1]
        D[i, 1:] = (
            np.minimum(np.minimum(M[i - 1, 1:] + go, I[i - 1, 1:] + go), D[i - 1, 1:])
            + vc
        )
        prevmin = np.minimum(np.minimum(M[i - 1], I[i - 1]), D[i - 1])
        M[i, 1:] = prevmin[:-1] + cp.sub[a[i - 1], b]
        G = np.minimum(M[i], D[i]) + go
        W = G - cumc
        W[0] = min(W[0], bign)
        runmin = np.minimum.accumulate(W)
        I[i, 1:] = cumc[1:] + runmin[:-1]
    return M, I, D


def align_full(seq_1: str, seq_2: str, params: AlignParams):
    """Optimal alignment of one pair with deterministic traceback.

    Returns dict(seq_1_aligned, middle_part, seq_2_aligned, cost, score).
    Ties are broken deterministically (diagonal > gap-in-seq_1 >
    gap-in-seq_2); the reference breaks ties with unseeded random.choice
    (globaligner.py:595-685), so only cost/score are bit-parity targets and
    aligned strings match on tie-free cases.
    """
    cp = CompiledParams(params)
    m, n = len(seq_1), len(seq_2)
    M, I, D = _dp_tables(seq_1, seq_2, cp)
    cost = int(min(M[m, n], I[m, n], D[m, n]))

    go = cp.go
    s1_out: list[str] = []
    mid_out: list[str] = []
    s2_out: list[str] = []

    i, j = m, n
    level = int(np.argmin([M[m, n], I[m, n], D[m, n]]))
    while i > 0 or j > 0:
        if i == 0:
            # top row: only horizontal moves remain
            s1_out.append("-")
            mid_out.append(" ")
            s2_out.append(seq_2[j - 1])
            j -= 1
            continue
        if j == 0:
            s1_out.append(seq_1[i - 1])
            mid_out.append(" ")
            s2_out.append("-")
            i -= 1
            continue
        if level == 0:
            a, b = seq_1[i - 1], seq_2[j - 1]
            s1_out.append(a)
            mid_out.append("|" if a == b else "*")
            s2_out.append(b)
            cands = (M[i - 1, j - 1], I[i - 1, j - 1], D[i - 1, j - 1])
            i, j = i - 1, j - 1
        elif level == 1:
            s1_out.append("-")
            mid_out.append(" ")
            s2_out.append(seq_2[j - 1])
            cands = (M[i, j - 1] + go, I[i, j - 1], D[i, j - 1] + go)
            j = j - 1
        else:
            s1_out.append(seq_1[i - 1])
            mid_out.append(" ")
            s2_out.append("-")
            cands = (M[i - 1, j] + go, I[i - 1, j] + go, D[i - 1, j])
            i = i - 1
        level = int(np.argmin(cands))

    s1_out.reverse()
    mid_out.reverse()
    s2_out.reverse()
    score = int(cp.final_score(np.int64(cost), m, n))
    return {
        "seq_1_aligned": "".join(s1_out),
        "middle_part": "".join(mid_out),
        "seq_2_aligned": "".join(s2_out),
        "cost": cost,
        "score": score,
    }
