"""Integer batch kernels (r14 optimization round, guide §4.2): numpy
re-expressions of the interpreted SQL higher-order folds on the
token/shingle hash paths (b28's SimHash 64-counter fold, the
b105/b109/b115 winnowing chain).

Unlike the float cosine kernel (vectors.stepwise_cos_block), these
need NO rounding-order argument: every operation is exact int64
arithmetic (counter adds, poly-hash mod folds, minima), so ANY
evaluation order produces the bit-identical result. The parity
surface is only the per-element operation:

- b28 keeps ``xxhash64`` evaluation in the JVM (it is a codegen'd
  native expression — the interpreted cost was the 64-counter
  ``zip_with`` fold around it, ~64 element-ops per token); the kernel
  receives the token-hash arrays and reproduces the counter/sign
  arithmetic with numpy popcounts.
- the winnowing chain's token hash is the per-char poly fold
  ``pmod(h * 31 + ascii(c), 1e9+7)`` over ``split(tok, '')`` — and
  Spark's ``split('')`` + ``ascii()`` iterate full Unicode CODE
  POINTS exactly like Python ``ord()`` (ASCII / Latin-1 / CJK /
  astral emoji / combining marks, pinned by
  tests/test_int_kernels.py), so the whole chain moves to
  numpy: code points via UTF-32 decode, then the same mod-1e9+7
  folds. All intermediates stay far inside int64 (h*31 + cp <= ~3e10;
  g*1e6 + th <= ~1e15), and Spark runs ANSI mode — it would THROW on
  int64 overflow rather than wrap — so numpy's wrapping semantics are
  never exercised; numpy's ``%`` returns the divisor's sign like
  Spark's ``pmod``.

Every kernel raises ``ValueError`` on an empty per-doc segment:
``np.add.reduceat`` / ``np.minimum.reduceat`` would silently return
the NEXT doc's value there, so an unfiltered caller gets a task
failure instead of wrong rows.
"""

from __future__ import annotations


def _segment_starts(counts):
    """Exclusive prefix sums of per-doc element counts -> flat segment
    start offsets (len = len(counts))."""
    import numpy as np

    starts = np.zeros(len(counts), dtype=np.int64)
    if len(counts) > 1:
        np.cumsum(counts[:-1], out=starts[1:])
    return starts


def _require_nonempty(kernel: str, what: str, ids, counts) -> None:
    """Raise (not assert: the check must survive ``python -O``) when
    any doc's segment is empty."""
    import numpy as np

    empty = np.flatnonzero(counts == 0)
    if len(empty):
        raise ValueError(
            f"{kernel}: {len(empty)} doc(s) with an empty {what} "
            f"(first doc_id {int(ids[empty[0]])}); callers must "
            f"pre-filter them"
        )


def simhash_from_token_hashes(batches):
    """mapInPandas kernel: (doc_id, th: array<bigint>) -> (doc_id,
    simhash: bigint), bit-identical to dedup.SIMHASH_EXPR's fold.

    The fold's counter c_j = (#tokens with bit j set) - (#tokens with
    bit j clear) = 2 * popcount_j - n_tokens — exact integers, so the
    numpy reduction equals the sequential fold regardless of order.
    The finish lambda sums shiftleft(1, j) for c_j > 0 as BIGINT
    (wrapping negative at j = 63); building the bits in uint64 and
    reinterpreting as int64 produces the same two's-complement value.
    Callers must pre-filter token-less docs (b28 filters
    size(tokens) > 0 before the signature, exactly as the SQL form
    did); an empty array raises ValueError.
    """
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        th_cells = list(pdf["th"])
        lens = np.fromiter(
            (len(t) for t in th_cells), dtype=np.int64, count=len(th_cells)
        )
        _require_nonempty("simhash_from_token_hashes", "token-hash array", ids, lens)
        flat = (
            np.concatenate([np.asarray(t, dtype=np.int64) for t in th_cells])
            if len(th_cells)
            else np.empty(0, dtype=np.int64)
        ).view(np.uint64)
        starts = _segment_starts(lens)
        sig = np.zeros(len(ids), dtype=np.uint64)
        one = np.uint64(1)
        for j in range(64):
            bit = (flat >> np.uint64(j)) & one
            ones = np.add.reduceat(bit.astype(np.int64), starts)
            # c_j > 0  <=>  2 * ones - n > 0
            sig |= ((2 * ones > lens).astype(np.uint64)) << np.uint64(j)
        yield pd.DataFrame({"doc_id": ids, "simhash": sig.view(np.int64)})


def minhash_sig_kernel(k: int, prime: int):
    """mapInPandas kernel factory: (doc_id, hs: array<bigint>) ->
    (doc_id, sig: array<bigint>), where hs is the doc's (distinct)
    xxhash64 shingle array and sig[i] = min over shingles of
    pmod((2i+1) * pmod(h, prime) + (7919*i + 13), prime) — exactly
    the 32 min() aggregates `_minhash_band_keys` previously ran over
    an exploded posting relation (int64-exact: prime is 32-bit, so
    63 * h stays far inside int64, matching Spark's ANSI no-overflow
    guarantee; numpy `%` == Spark pmod for a positive modulus).
    Replacing the explode + 32-expression hash-aggregate removes the
    doc_id Exchange under the banding entirely. Callers must
    pre-filter docs with empty shingle arrays (token-bearing docs
    always have >= 1 shingle); an empty array raises ValueError."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            cells = list(pdf["hs"])
            lens = np.fromiter(
                (len(c) for c in cells), dtype=np.int64, count=len(cells)
            )
            _require_nonempty("minhash_sig_kernel", "shingle array", ids, lens)
            flat = (
                np.concatenate([np.asarray(c, dtype=np.int64) for c in cells])
                % prime
            )
            starts = _segment_starts(lens)
            sigs = np.empty((len(ids), k), dtype=np.int64)
            for i in range(k):
                perm = (flat * (2 * i + 1) + (7919 * i + 13)) % prime
                sigs[:, i] = np.minimum.reduceat(perm, starts)
            yield pd.DataFrame({"doc_id": ids, "sig": list(sigs)})

    return kernel


_WIN_P = 1_000_000_007  # the winnowing family's prime (dedup._PRIME twin
# for the b53 char fold; see dedup.py's winnowing module comment)


def winnow_prints_kernel(b2: int, n: int = 4, w: int = 4):
    """mapInPandas kernel factory: (doc_id, toks: array<string>) ->
    one (doc_id, pr) row per DISTINCT selected print — the exact
    posting relation `_winnow_posting_live` previously built as
    token-hash -> gram-hash -> window-min -> array_distinct ->
    explode in interpreted SQL HOFs (~n + w element-ops per gram plus
    ~2 per char, all CodegenFallback).

    Arithmetic is the literal b105 rule (same as the pure-Python twin
    in tests/test_ann_contracts.py): per-token char fold
    ``h = (h*31 + ord(ch)) % P``; 4-token gram fold
    ``g = (g*B2 + th) % P`` (docs under n tokens fold the whole array
    from 0); per-4-window minima (docs under w grams take the global
    min); distinct per doc. Everything is int64-exact, so the kernel
    output SET equals the SQL form's per doc (order differs — every
    consumer aggregates, and the set is the contract). Callers must
    pre-filter token-less docs (every token has >= 1 char after
    TOKENS_EXPR's empty-token filter); a token-less doc raises
    ValueError.
    """

    def kernel(batches):
        import numpy as np
        import pandas as pd

        P = _WIN_P
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            tok_cells = list(pdf["toks"])
            m = np.fromiter(
                (len(t) for t in tok_cells), dtype=np.int64, count=len(tok_cells)
            )
            _require_nonempty("winnow_prints_kernel", "token array", ids, m)
            # ---- per-token char poly fold (vectorized over tokens,
            # looping char position over a shrinking active set) ----
            all_toks: list = []
            for cell in tok_cells:
                all_toks.extend(cell)
            ntok = len(all_toks)
            tlen = np.fromiter(
                (len(t) for t in all_toks), dtype=np.int64, count=ntok
            )
            cp = np.frombuffer(
                "".join(all_toks).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            tstart = _segment_starts(tlen)
            order = np.argsort(tlen, kind="stable")  # ascending length
            sl = tlen[order]
            sstart = tstart[order]
            hs = np.zeros(ntok, dtype=np.int64)
            maxlen = int(sl[-1]) if ntok else 0
            for i in range(maxlen):
                a = int(np.searchsorted(sl, i + 1, side="left"))
                seg = slice(a, ntok)
                hs[seg] = (hs[seg] * 31 + cp[sstart[seg] + i]) % P
            th = np.empty(ntok, dtype=np.int64)
            th[order] = hs
            # ---- gram fold over the flat token-hash array ----
            dstart = _segment_starts(m)  # per-DOC start in token space
            gl = np.where(m < n, 1, m - (n - 1))
            ng = int(gl.sum())
            doc_of_g = np.repeat(np.arange(len(ids), dtype=np.int64), gl)
            within_g = np.arange(ng, dtype=np.int64) - np.repeat(
                _segment_starts(gl), gl
            )
            base = dstart[doc_of_g] + within_g
            is_big = m[doc_of_g] >= n
            g = np.where(is_big, th[np.minimum(base, max(ntok - 1, 0))], 0)
            for j in range(n):
                step = (is_big & (j >= 1)) | (~is_big & (m[doc_of_g] > j))
                idx = np.minimum(base + j, max(ntok - 1, 0))
                g[step] = (g[step] * b2 + th[idx][step]) % P
            # ---- window-of-w minima over the flat gram array ----
            pl = np.where(gl < w, 1, gl - (w - 1))
            npr = int(pl.sum())
            gstart = _segment_starts(gl)
            doc_of_p = np.repeat(np.arange(len(ids), dtype=np.int64), pl)
            within_p = np.arange(npr, dtype=np.int64) - np.repeat(
                _segment_starts(pl), pl
            )
            pbase = gstart[doc_of_p] + within_p
            is_bigw = gl[doc_of_p] >= w
            pr = g[pbase].copy()
            for j in range(1, w):
                step = is_bigw | (~is_bigw & (gl[doc_of_p] > j))
                idx = np.minimum(pbase + j, max(ng - 1, 0))
                pr[step] = np.minimum(pr[step], g[idx][step])
            # ---- distinct (doc, print) pairs ----
            key = np.unique(doc_of_p * P + pr)
            yield pd.DataFrame(
                {
                    "doc_id": ids[(key // P).astype(np.int64)],
                    "pr": key % P,
                }
            )

    return kernel
