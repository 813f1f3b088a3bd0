"""Similarity kernels: indel ratio (rapidfuzz.fuzz.ratio parity),
Jaro-Winkler, token Jaccard, 64-bit md5-nibble SimHash.

The reference's only similarity function is ``rapidfuzz.fuzz.ratio``
(reference ``backend/analysis/compare.py:370``), a normalized InDel
similarity: ``100 * (1 - indel_distance / (len_a + len_b))`` where
``indel_distance = len_a + len_b - 2 * LCS(a, b)``.  rapidfuzz is not in
this environment, so :func:`indel_ratio_py` re-implements it exactly via
Hyyrö's bit-parallel LCS (O(len_b * ceil(len_a/64)) word ops — Python
arbitrary-precision ints give the bit-parallelism for free).

All kernels are exposed to Spark exclusively through Arrow-batched
``pandas_udf`` wrappers (the engine's single sanctioned Python extension
point; SURVEY.md §2.10).  Pure-Python versions double as the test oracle.

SimHash has one family and one Spark kernel: the token hash is the first
16 hex nibbles of md5 (so DuckDB reproduces every signature from
``md5()``), and :func:`attach_simhash64_md5` computes it for both ER
scoring and ``simhash_pairs``.  It shares its Arrow batch boundary
(:func:`_ragged_hashes`) and plan shape (:func:`attach_hash_kernel`)
with the MinHash kernel, and ER scoring shares the hashed-token
Jaccard (:func:`hashed_jaccard`) with ``minhash_lsh_pairs``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

__all__ = [
    "indel_ratio_py",
    "jaro_winkler_py",
    "token_jaccard_py",
    "hamming64_py",
    "indel_ratio_udf",
    "simhash64_md5_py",
    "attach_simhash64_md5",
    "hashed_jaccard",
]


# ---------------------------------------------------------------------------
# Indel ratio (rapidfuzz.fuzz.ratio parity)
# ---------------------------------------------------------------------------

def _lcs_length(a: str, b: str) -> int:
    """Length of the longest common subsequence, bit-parallel (Hyyrö 2004)."""
    la = len(a)
    if la == 0 or len(b) == 0:
        return 0
    if la > len(b):  # iterate over the longer string, mask the shorter
        a, b = b, a
        la = len(a)
    masks: dict[str, int] = {}
    for i, ch in enumerate(a):
        masks[ch] = masks.get(ch, 0) | (1 << i)
    width = (1 << la) - 1
    s = width
    for ch in b:
        m = masks.get(ch)
        if m is None:
            continue
        u = s & m
        s = (s + u) | (s - u)
    # LCS = number of zero bits of s inside the la-bit window
    return la - bin(s & width).count("1")


def _common_prefix_len(a: str, b: str) -> int:
    """Longest common prefix via binary search over C-speed slice
    comparisons (prefix equality is monotone in length)."""
    lo, hi = 0, min(len(a), len(b))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if a[:mid] == b[:mid]:
            lo = mid
        else:
            hi = mid - 1
    return lo


def indel_ratio_py(a: str | None, b: str | None) -> float | None:
    """Exact rapidfuzz.fuzz.ratio semantics on two strings (0..100).

    Both-empty => 100.0 (rapidfuzz convention).  None propagates as None
    (null handling is done by the caller per reference compare.py:360-367).

    Common prefix/suffix are stripped before the bit-parallel LCS —
    exact (LCS decomposes around a shared prefix/suffix; rapidfuzz does
    the same trim) and the dominant cost saver on near-duplicate text,
    where the DP then runs only over the small differing core.
    """
    if a is None or b is None:
        return None
    if a == b:  # identical (incl. both-empty): dist 0 — the single most
        return 100.0  # common verify-stage case on duplicate corpora
    total = len(a) + len(b)
    pre = _common_prefix_len(a, b)
    a_m, b_m = a[pre:], b[pre:]
    suf = _common_prefix_len(a_m[::-1], b_m[::-1])
    if suf:
        a_m, b_m = a_m[:-suf], b_m[:-suf]
    lcs = pre + suf + _lcs_length(a_m, b_m)
    dist = total - 2 * lcs
    return 100.0 * (1.0 - dist / total)


def indel_ratio_batch(strs_a, strs_b) -> "np.ndarray":
    """Vectorized rapidfuzz.fuzz.ratio over a whole Arrow batch (float64
    out; NaN for null inputs).  Exact same semantics as
    :func:`indel_ratio_py` (differentially tested).

    The common prefix/suffix trim — the dominant cost on near-duplicate
    corpora — is computed for ALL rows at once as elementwise numpy ops
    over padded uint8 matrices (cumprod of equality = first-mismatch
    scan); the bit-parallel LCS then runs per row only on the tiny
    trimmed cores.  Non-ASCII rows fall back to the scalar kernel so
    byte-level trimming never splits a codepoint.
    """
    n = len(strs_a)
    out = np.empty(n, dtype="float64")
    vec_rows: list[int] = []
    va: list[bytes] = []
    vb: list[bytes] = []
    for i in range(n):
        a, b = strs_a[i], strs_b[i]
        if a is None or b is None:
            out[i] = np.nan
        elif a == b:
            out[i] = 100.0
        elif not a or not b:
            out[i] = 0.0  # one empty, other not: LCS 0, dist == total
        elif a.isascii() and b.isascii():
            vec_rows.append(i)
            va.append(a.encode("ascii"))
            vb.append(b.encode("ascii"))
        else:
            out[i] = indel_ratio_py(a, b)
    if not vec_rows:
        return out

    m = len(vec_rows)
    la = np.fromiter((len(s) for s in va), dtype=np.int64, count=m)
    lb = np.fromiter((len(s) for s in vb), dtype=np.int64, count=m)
    L = int(np.minimum(la, lb).max())
    # forward-aligned and REVERSED (end-aligned) matrices, truncated to
    # the max min-length: the suffix scan is then a plain columnwise
    # compare like the prefix scan — no per-row gather index matrices
    A = np.zeros((m, L), dtype=np.uint8)
    B = np.full((m, L), 1, dtype=np.uint8)  # differing pads: pad != pad
    Ar = np.zeros((m, L), dtype=np.uint8)
    Br = np.full((m, L), 1, dtype=np.uint8)
    for r in range(m):
        sa, sb = va[r], vb[r]
        w = min(len(sa), len(sb), L)
        A[r, :w] = np.frombuffer(sa[:w], dtype=np.uint8)
        B[r, :w] = np.frombuffer(sb[:w], dtype=np.uint8)
        Ar[r, :w] = np.frombuffer(sa[len(sa) - w:], dtype=np.uint8)[::-1]
        Br[r, :w] = np.frombuffer(sb[len(sb) - w:], dtype=np.uint8)[::-1]

    nmin = np.minimum(la, lb)
    k = np.arange(L)
    # prefix length: run of leading equal positions (accumulate stops at
    # the first mismatch; differing pad bytes stop runs at min length)
    if L:
        pre = np.logical_and.accumulate(A == B, axis=1).sum(axis=1)
        # suffix: same scan end-aligned, bounded so it never overlaps
        # the prefix region
        eq_r = np.logical_and.accumulate(Ar == Br, axis=1) & (
            k[None, :] < (nmin - pre)[:, None]
        )
        suf = eq_r.sum(axis=1)
    else:
        pre = np.zeros(m, dtype=np.int64)
        suf = np.zeros(m, dtype=np.int64)

    total = la + lb
    lcs = pre + suf
    core = (la - pre - suf) > 0
    core_b_len = lb - pre - suf
    for r in np.nonzero(core & (core_b_len > 0))[0]:
        a_m = va[r][pre[r] : la[r] - suf[r]].decode("ascii")
        b_m = vb[r][pre[r] : lb[r] - suf[r]].decode("ascii")
        lcs[r] += _lcs_length(a_m, b_m)
    dist = total - 2 * lcs
    out[np.asarray(vec_rows, dtype=np.int64)] = 100.0 * (1.0 - dist / total)
    return out


# ---------------------------------------------------------------------------
# Jaro-Winkler
# ---------------------------------------------------------------------------

def _jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    match_window = max(la, lb) // 2 - 1
    if match_window < 0:
        match_window = 0
    a_flags = [False] * la
    b_flags = [False] * lb
    matches = 0
    for i, ch in enumerate(a):
        lo = max(0, i - match_window)
        hi = min(lb, i + match_window + 1)
        for j in range(lo, hi):
            if not b_flags[j] and b[j] == ch:
                a_flags[i] = b_flags[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions
    transpositions = 0
    j = 0
    for i in range(la):
        if a_flags[i]:
            while not b_flags[j]:
                j += 1
            if a[i] != b[j]:
                transpositions += 1
            j += 1
    t = transpositions / 2
    m = matches
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler_py(
    a: str | None, b: str | None, prefix_weight: float = 0.1, max_prefix: int = 4
) -> float | None:
    """Jaro-Winkler similarity in [0, 1] (standard 0.1 prefix scaling)."""
    if a is None or b is None:
        return None
    if a == b:  # exact shortcut (jaro==1 => jw==1); the common case for
        return 1.0  # canonical URLs of same-entity page variants
    jaro = _jaro(a, b)
    if jaro <= 0.7:  # standard boost threshold
        return jaro
    prefix = 0
    for ca, cb in zip(a[:max_prefix], b[:max_prefix]):
        if ca != cb:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def jaro_winkler_batch(strs_a, strs_b) -> "np.ndarray":
    """Vectorized Jaro-Winkler over a whole Arrow batch (numpy, float64
    out; NaN for null inputs).

    The per-pair pure-Python ``_jaro`` loop costs ~100us on 60-char
    URLs; this computes the identical greedy match/transposition/prefix
    algorithm as O(La*Lb) elementwise numpy ops over a padded uint8
    codepoint matrix — one C-speed op per (i, j) position for ALL rows
    at once (~10-20x on realistic batches).  Non-ASCII rows fall back to
    the scalar kernel so byte-padding never changes codepoint semantics;
    equal pairs short-circuit to 1.0 before matrix construction.
    Differentially tested against :func:`jaro_winkler_py` (hypothesis).
    """
    n = len(strs_a)
    out = np.empty(n, dtype="float64")
    vec_rows: list[int] = []
    va: list[bytes] = []
    vb: list[bytes] = []
    for i in range(n):
        a, b = strs_a[i], strs_b[i]
        if a is None or b is None:
            out[i] = np.nan
        elif a == b:
            out[i] = 1.0
        elif not a or not b:
            out[i] = 0.0
        elif a.isascii() and b.isascii():
            vec_rows.append(i)
            va.append(a.encode("ascii"))
            vb.append(b.encode("ascii"))
        else:
            out[i] = jaro_winkler_py(a, b)
    if not vec_rows:
        return out

    m = len(vec_rows)
    la = np.fromiter((len(s) for s in va), dtype=np.int64, count=m)
    lb = np.fromiter((len(s) for s in vb), dtype=np.int64, count=m)
    La, Lb = int(la.max()), int(lb.max())
    A = np.zeros((m, La), dtype=np.uint8)
    B = np.zeros((m, Lb), dtype=np.uint8)
    for r, s in enumerate(va):
        A[r, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    for r, s in enumerate(vb):
        B[r, : len(s)] = np.frombuffer(s, dtype=np.uint8)

    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    flags_a = np.zeros((m, La), dtype=bool)
    flags_b = np.zeros((m, Lb), dtype=bool)
    matches = np.zeros(m, dtype=np.int64)
    rows = np.arange(m)
    # per-a-char greedy window search, iterated over window OFFSET with
    # per-row gather/scatter: near-identical pairs (the common verify
    # case) find their match at offset ~0 and the offset loop exits
    # after a couple of C-speed passes instead of scanning all of B
    for i in range(La):
        active = i < la
        if not active.any():
            break
        ch = A[:, i]
        lo = np.maximum(0, i - window)
        hi = np.minimum(lb, i + window + 1)
        found = ~active
        span = hi - lo
        max_span = int(span.max()) if m else 0
        for d in range(max_span):
            if found.all():
                break
            j = lo + d
            inwin = ~found & (j < hi)
            if not inwin.any():
                break
            jc = np.minimum(j, Lb - 1)
            can = inwin & ~flags_b[rows, jc] & (B[rows, jc] == ch)
            if can.any():
                flags_b[rows[can], jc[can]] = True
                flags_a[can, i] = True
                found |= can
        matches += found & active

    # transpositions: compare matched chars of a (in i order) with
    # matched chars of b (in j order), row-wise via scatter matrices
    jw = np.zeros(m, dtype="float64")
    nz = matches > 0
    if nz.any():
        max_m = int(matches.max())
        Ma = np.zeros((m, max_m), dtype=np.uint8)
        Mb = np.zeros((m, max_m), dtype=np.uint8)
        ra, ca = np.nonzero(flags_a)
        pa = (np.cumsum(flags_a, axis=1) - 1)[ra, ca]
        Ma[ra, pa] = A[ra, ca]
        rb, cb = np.nonzero(flags_b)
        pb = (np.cumsum(flags_b, axis=1) - 1)[rb, cb]
        Mb[rb, pb] = B[rb, cb]
        k = np.arange(max_m)
        valid = k[None, :] < matches[:, None]
        transpositions = ((Ma != Mb) & valid).sum(axis=1)
        mm = matches.astype("float64")
        t = transpositions / 2.0
        with np.errstate(divide="ignore", invalid="ignore"):
            jaro = np.where(
                nz,
                (mm / la + mm / lb + (mm - t) / np.where(nz, mm, 1)) / 3.0,
                0.0,
            )
        prefix = np.zeros(m, dtype=np.int64)
        still = np.ones(m, dtype=bool)
        for i in range(min(4, La, Lb)):
            still &= (i < la) & (i < lb) & (A[:, i] == B[:, i])
            prefix += still
        jw = np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)
    out[np.asarray(vec_rows, dtype=np.int64)] = jw
    return out


# ---------------------------------------------------------------------------
# Token Jaccard + SimHash
# ---------------------------------------------------------------------------

def _tokens(s: str) -> list[str]:
    return s.split()


def token_jaccard_py(a: str | None, b: str | None) -> float | None:
    """Jaccard similarity of whitespace-token *sets*.  Both-empty => 1.0."""
    if a is None or b is None:
        return None
    sa, sb = set(_tokens(a)), set(_tokens(b))
    if not sa and not sb:
        return 1.0
    union = len(sa | sb)
    return len(sa & sb) / union if union else 1.0


def hamming64_py(x: int | None, y: int | None) -> int | None:
    if x is None or y is None:
        return None
    return bin((x ^ y) & ((1 << 64) - 1)).count("1")


# ---------------------------------------------------------------------------
# Arrow-batched pandas UDFs (the Spark-facing surface)
# ---------------------------------------------------------------------------

@pandas_udf(T.DoubleType())
def indel_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched rapidfuzz.fuzz.ratio parity (numpy-vectorized trim +
    per-core bit-parallel LCS).  Null in either side => null (NaN)
    (null *semantics* — match/mismatch/ignore — are applied by the caller
    as native expressions so they stay in codegen)."""
    return pd.Series(indel_ratio_batch(list(a), list(b)), index=a.index)


# ---------------------------------------------------------------------------
# Per-document hash kernels (SimHash vote here, MinHash lane-min in
# ``operators.blocking``): one Arrow batch boundary, one plan shape.
# ---------------------------------------------------------------------------

def _ragged_hashes(rows, max_len: int | None = None):
    """A batch of per-document int64 hash arrays as ONE flat uint64
    array plus per-row offsets, so a kernel reduces the whole batch with
    one numpy ``reduceat``.

    ``rows`` is what ``Series.to_numpy()`` gives for an ``array<bigint>``
    column: an int64 array or None per row.  A row is valid when it is
    non-null, non-empty and, with ``max_len``, at most ``max_len`` long.
    Returns ``(valid, flat, starts, lens)``: the mask over all rows,
    then the concatenated hashes, start offsets and lengths of the valid
    rows only.  What an invalid row yields is the kernel's policy.

    Raises TypeError when a valid row arrives as float: a null list slot
    in the Arrow batch degrades the whole int64 values buffer to
    float64, and the integer bits beyond 2^53 are already gone — a loud
    failure beats silent corruption.
    """
    lens = np.fromiter(
        (0 if r is None else len(r) for r in rows), dtype=np.int64, count=len(rows)
    )
    valid = lens > 0
    if max_len is not None:
        valid &= lens <= max_len
    parts = [np.asarray(r) for r, v in zip(rows, valid) if v]
    if any(p.dtype.kind == "f" for p in parts):
        raise TypeError(
            "hash kernel: hash array arrived as float "
            "(null list slot upstream?) — integer bits lost"
        )
    flat = (
        np.concatenate(parts).astype(np.int64).view(np.uint64)
        if parts
        else np.empty(0, dtype=np.uint64)
    )
    lens = lens[valid]
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return valid, flat, starts, lens


def attach_hash_kernel(df: DataFrame, hashes: Column, kernel, out_col: str) -> DataFrame:
    """Attach ``kernel(hashes)`` as ``out_col``, where ``hashes`` is a
    native per-document hash array and ``kernel`` an Arrow pandas UDF
    over it: the plan shape of both per-document kernels.

    DataFrame-level on purpose — the plan needs two Generate barriers
    around the Arrow UDF, which a Column-returning API cannot provide:

    1. the native hash array lands in its own projection, then an
       explode-of-one barrier pins it — without the barrier,
       CollapseProject inlines the higher-order-function tree into the
       UDF argument, a shape the Python-UDF extraction rule fails to
       extract over cached inputs (observed: raw PythonUDF left in an
       interpreted projection -> INTERNAL_ERROR 'Cannot evaluate
       expression' at execution);
    2. the UDF runs over the resulting BARE ATTRIBUTE, and its output passes
       through a second barrier so downstream repartition / shuffle-
       partitioner expressions reference the Generate's output attribute
       and can never inline the Unevaluable PythonUDF expression.
    """
    df = df.select("*", hashes.alias("__kh0"))
    df = df.select("*", F.explode(F.array("__kh0")).alias("__kh")).drop("__kh0")
    df = df.select("*", kernel(F.col("__kh")).alias("__kout")).drop("__kh")
    return df.select("*", F.explode(F.array("__kout")).alias(out_col)).drop("__kout")


# ---------------------------------------------------------------------------
# md5-nibble SimHash — exactly reproducible in ANSI SQL (DuckDB), so the
# driver's oracle can verify it.
# ---------------------------------------------------------------------------

def simhash64_md5_py(s: str | None) -> int | None:
    """Pure-Python oracle for :func:`attach_simhash64_md5`: tokens are
    space-split (empties kept, matching ``F.split(s, ' ')``), each
    token's 64-bit hash is the first 16 hex nibbles of its md5, bit j of
    the signature is the sign of the sum of bit j over tokens.  Returns
    signed int64; None beyond 16383 tokens (the exact-range guard the
    DuckDB oracle ``SQL_SIMHASH`` mirrors)."""
    if s is None:
        return None
    toks = s.split(" ")
    if len(toks) > 16383:
        return None
    acc = [0] * 64
    for tok in toks:
        hx = hashlib.md5(tok.encode("utf-8")).hexdigest()[:16]
        for i, ch in enumerate(hx):  # nibble i -> bits 4i..4i+3, MSB first
            v = int(ch, 16)
            for k in range(4):
                acc[4 * i + k] += 1 if (v >> (3 - k)) & 1 else -1
    out = 0
    for j in range(64):
        if acc[j] > 0:
            out |= 1 << (63 - j)
    if out >= 1 << 63:
        out -= 1 << 64
    return out


def _simhash64_md5_batch(hashes: pd.Series) -> pd.Series:
    """Vectorized md5-nibble SimHash vote: input = per-document array of
    64-bit token hashes (first 16 md5 hex nibbles, computed natively);
    output BIT-EXACT to :func:`simhash64_md5_py` (differential-tested).
    None for null or empty input or > 16383 tokens: the frozen DuckDB
    oracle (``SQL_SIMHASH``) returns NULL there, so the kernel must too."""
    rows = hashes.to_numpy()
    valid, flat, starts, lens = _ragged_hashes(rows, max_len=16383)
    sigs = np.zeros(len(rows), dtype=np.int64)
    if valid.any():
        ones = np.empty((len(lens), 64), dtype=np.int64)
        # 8 bit-positions at a time keeps the transient bit matrix at
        # T x 8 bytes instead of T x 64
        for g in range(8):
            # compute with signed ints first: a -1 stop under a uint64
            # dtype wraps and corrupts the final group's shifts
            shifts = np.arange(63 - 8 * g, 55 - 8 * g, -1).astype(np.uint64)
            bits8 = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
            np.add.reduceat(bits8, starts, axis=0, dtype=np.int64,
                            out=ones[:, 8 * g: 8 * g + 8])
        cond = (2 * ones) > lens[:, None]
        packed = np.packbits(cond, axis=1)  # big-endian: col 0 -> bit 63
        sigs[valid] = (
            packed.view(">u8").ravel().astype("=u8").view(np.int64)
        )
    out = [int(sigs[i]) if valid[i] else None for i in range(len(rows))]
    # dtype=object is load-bearing: a plain Series of ints-with-None
    # coerces to float64 and silently destroys integer bits beyond 2^53
    return pd.Series(out, index=hashes.index, dtype=object)


# Not a decorator: the function stays reachable by name, so a worker
# unpickles it by reference and imports the package (see ``worker.py``).
simhash64_md5_batch_udf = pandas_udf(_simhash64_md5_batch, T.LongType())


def attach_simhash64_md5(df, text, out_col: str):
    """Attach the md5-nibble SimHash of the space-split ``text`` as
    ``out_col`` (signed int64; NULL for null text or > 16383 tokens).

    The engine's one SimHash kernel, used by ER scoring
    (``scoring.prepare_pages``) and ``dedup.simhash_pairs``.  Per token
    the native side does one md5 + two 8-hex ``conv`` (whole-stage
    codegen), and the 64-lane vote runs vectorized in numpy over the
    Arrow batch, in the plan shape of :func:`attach_hash_kernel`.
    """
    text = F.col(text) if isinstance(text, str) else text
    toks = F.split(text, " ")

    def h64(t):
        # bind the md5 string as a lambda variable so it is computed
        # once per token (interpreted HOFs re-evaluate inline subtrees);
        # hi<<32 | lo assembles the 64-bit value with BITWISE ops only —
        # no ANSI-overflowing arithmetic on values >= 2^63
        return F.element_at(
            F.transform(
                F.array(F.md5(t)),
                lambda m: F.shiftleft(
                    F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
                ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long")),
            ),
            1,
        )

    # null arrays are coalesced to EMPTY natively: a null list slot in
    # the Arrow batch makes pandas deliver the whole values buffer as
    # float64, silently losing integer bits beyond 2^53 (measured:
    # low-order signature bits corrupted for every row sharing a batch
    # with a null).  The kernel maps empty back to None, preserving the
    # native null-text semantics.
    hashed = F.coalesce(F.transform(toks, h64), F.array().cast("array<long>"))
    return attach_hash_kernel(df, hashed, simhash64_md5_batch_udf, out_col)


# ---------------------------------------------------------------------------
# Native (JVM-side) similarity expressions — used where exact rapidfuzz
# parity is not required, so the plan stays in whole-stage codegen.
# ---------------------------------------------------------------------------

def hashed_jaccard(a, b) -> Column:
    """Set Jaccard of any two arrays without duplicate elements (token
    hashes or n-gram strings after ``array_distinct``): ONE
    ``array_intersect``, and |union| = |A|+|B|-|inter| so no union array
    is ever built.  The intersect size is bound as a lambda variable via
    a single-element transform so it is evaluated exactly once per pair
    (a naive when/otherwise would re-run the intersect per reference).
    Two empty arrays give 1.0.  Used by ER scoring, ``dedup.minhash_lsh_pairs``' verify and
    ``dedup.ngram_jaccard_pairs``."""
    a, b = (F.col(c) if isinstance(c, str) else c for c in (a, b))

    def jac(inter):
        union = F.size(a) + F.size(b) - inter
        return F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union)

    return F.element_at(
        F.transform(F.array(F.size(F.array_intersect(a, b))), jac), 1
    )


def levenshtein_similarity(a, b):
    """100 * (1 - levenshtein / max_len) as a native Column (codegen'd).
    Not rapidfuzz-ratio parity (substitutions cost 1, not 2) — used for
    oracle-checked fuzzy queries where DuckDB must agree."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    max_len = F.greatest(F.length(a), F.length(b))
    return F.when(max_len == 0, F.lit(100.0)).otherwise(
        100.0 * (1.0 - F.levenshtein(a, b) / max_len)
    )
