"""Product-quantization ANN building blocks (sim8): train / encode /
ADC lookup tables.

PQ (Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — public method) splits the embedding dimension
into ``m`` subspaces, k-means-quantizes each subspace independently to
``ks`` centroids, and stores each vector as ``m`` small codes. At the
demo geometry (dim 64, m=8, ks=16) a vector is 8 codes ≈ 8 bytes vs
256 bytes of float32 — 32x compression, 4x beyond sim5's SQ8 — and
search never decodes the corpus: a query builds an m x ks table of
sub-inner-products once (the Asymmetric Distance Computation trick)
and each corpus row's approximate score is m table lookups. 100 TB of
float32 embeddings become ~3 TB of codes; the serving scan reads ONLY
(vec_id, codes).

Cross-engine exactness strategy (the emb1/cur8 bit-parity convention,
pushed further): every numeric expression downstream of the trained
codebook — sub-distances for encoding, the query LUTs, the ADC score —
is emitted by ONE Python generator as fully UNROLLED, LEFT-ASSOCIATED
arithmetic over literal centroid components, in two dialects that
differ only in array-index base (Spark ``v[i]`` is 0-based, DuckDB
``v[i+1]``) and float-literal suffix (Spark needs ``D`` or the literal
silently parses as DECIMAL — the r6 trap). Identical literals +
identical operation order = bit-identical IEEE doubles in Spark SQL,
DuckDB, and the numpy fast path (which replays the same left-to-right
accumulation), so the encoded codes and the candidate SET under the
ADC order match exactly across engines — no tie-margin arguments
needed anywhere upstream of the final exact rerank.

Scale notes: training is sample-sized by design (the tx10 convention —
a PQ codebook is fit on a bounded sample, never the corpus); encoding
is one zero-shuffle scan (Arrow-batched numpy in production,
``pq_encode``; the JVM unrolled-expression form ``pq_encode_ref`` is
the parity anchor, exact-equality-pinned in tests/test_pq.py); the
ADC SEARCH is the same convention since r8 (VERDICT r7 #1): the
production scan is Arrow-batched numpy replaying the unrolled chains
(``pq_adc_search_scan`` / ``pq_ivf_adc_search_scan``, per-batch
partial top-C), with the pure-JVM expression forms kept as parity
anchors — at the demo geometry the ~1k-term unrolled expressions
exceed janino's 64 KB method limit (interpreted fallback) and cost a
Catalyst analysis per run, which the Arrow path removes (1M-vector
full-ADC search 16.9 s -> 9.2 s, SCALING.md).

Reference parity: the reference engine has no ANN surface; sim8 is
part of the brief's similarity-search tier (brute-force sim1 baseline
-> LSH sim3 -> IVF sim4 -> SQ8 sim5 -> IVF x SQ8 sim6/sim7 -> PQ/ADC
sim8 as the memory-floor scale path).
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Codebook = Sequence[Sequence[Sequence[float]]]  # [m][ks][dsub]


# --------------------------------------------------------------------------
# training (driver-side, sample-sized by design)
# --------------------------------------------------------------------------


def train_pq_codebook(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    sample_n: int = 4096,
    iters: int = 8,
    vec_col: str = "v",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Per-subspace Lloyd's k-means on a bounded, deterministic sample
    (first ``sample_n`` rows in ``id_col`` order — the sim6 first-K
    seeding convention, applied to training data selection).

    Driver-side numpy on sample_n x dim doubles: a PQ codebook is a
    train-once artifact fit on a sample, never the corpus (the tx10
    scale argument); at sample_n=4096, dim=64 that is 2 MB. Init per
    subspace = first ``ks`` DISTINCT subvectors in id order, then
    ``iters`` fixed Lloyd rounds (argmin ties to the lowest centroid
    index; an emptied centroid keeps its previous position), so the
    result is deterministic for a given table."""
    import numpy as np

    rows = (
        emb.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_n)
        .collect()
    )
    X = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    return _pq_lloyd(X, m, ks, iters)


def _pq_lloyd(X, m: int, ks: int, iters: int) -> list[list[list[float]]]:
    """The per-subspace Lloyd loop of `train_pq_codebook` over an
    in-memory sample matrix (deterministic init, tie and
    empty-centroid rules, so the same training matrix always yields
    the same codebook)."""
    import numpy as np

    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    cb: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        seen: set[tuple] = set()
        init: list = []
        for row in S:
            t = tuple(row)
            if t not in seen:
                seen.add(t)
                init.append(row.copy())
            if len(init) == ks:
                break
        C = np.array(init, dtype=np.float64)
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for k in range(C.shape[0]):
                mask = assign == k
                if mask.any():
                    C[k] = S[mask].mean(axis=0)
        cb.append([[float(x) for x in c] for c in C])
    return cb


def train_opq_rotation(
    X, m: int, ks: int, opq_iters: int = 6, pq_iters: int = 8
) -> tuple[list[list[float]], list[list[list[float]]], float, float]:
    """Non-parametric OPQ (Ge, He, Ke & Sun, "Optimized Product
    Quantization for Approximate Nearest Neighbor Search", CVPR 2013
    — public method): learn an orthogonal rotation ``R`` so that
    PQ quantizes ``X @ R^T`` with lower error than raw ``X`` —
    alternate (a) fit the codebook on the rotated sample
    (`_pq_lloyd`, the shared trainer) and (b) solve the orthogonal
    Procrustes problem ``min_R ||X R^T - X_hat||_F`` via SVD of
    ``X^T X_hat``.

    Returns ``(R_rows, cb, err_opq, err_identity)``. The kept
    ``(R, cb)`` is the BEST candidate by sample quantization error —
    and the identity rotation (= plain PQ, exactly sim10's codebook
    on the same sample) is iteration 0's candidate, so
    ``err_opq <= err_identity`` holds BY CONSTRUCTION, not by
    convergence argument (the alternation's Lloyd step re-seeds on
    rotated data, which is not monotone across iterations).
    Driver-side numpy on the bounded training sample; deterministic
    for a given sample (eye init, deterministic Lloyd, LAPACK SVD)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    d = X.shape[1]
    dsub = d // m

    def recon(Z, cb):
        C = np.array(cb, dtype=np.float64)
        out = np.empty_like(Z)
        for j in range(m):
            S = Z[:, j * dsub : (j + 1) * dsub]
            d2 = ((S[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j * dsub : (j + 1) * dsub] = C[j][d2.argmin(axis=1)]
        return out

    R = np.eye(d)
    best = None
    err_identity = None
    for it in range(opq_iters):
        Z = X @ R.T
        cb = _pq_lloyd(Z, m, ks, pq_iters)
        Zh = recon(Z, cb)
        err = float(((Z - Zh) ** 2).sum())
        if it == 0:
            err_identity = err  # R == I: exactly the plain-PQ error
        if best is None or err < best[0]:
            best = (err, R.copy(), cb)
        U, _, Vt = np.linalg.svd(X.T @ Zh)
        R = (U @ Vt).T  # argmin_A ||X A - Zh||_F, A orthogonal
    err_opq, R_best, cb_best = best
    return (
        [[float(x) for x in row] for row in R_best],
        cb_best,
        err_opq,
        float(err_identity),
    )


# --------------------------------------------------------------------------
# the two-dialect expression generator
# --------------------------------------------------------------------------


def _flit(x: float, dialect: str) -> str:
    """A float literal that parses to the exact same double in both
    engines. Spark REQUIRES the D suffix (a bare decimal literal is
    DECIMAL and silently rounds — the r6 emb1 trap); DuckDB gets an
    exponent appended (``e0``) when repr produced none, so the literal
    is typed DOUBLE at parse time and strtod-parsed directly — never
    routed through DECIMAL and its decimal->DOUBLE cast, whose
    rounding for >2^53 integer parts is not guaranteed to match a
    direct parse (ADVICE r7).

    Non-finite inputs are REFUSED (ADVICE r8): repr(inf/nan) yields
    'inf'/'nan', which neither dialect parses as a double literal
    ('infD' / 'infe0'), so a degenerate codebook/centroid component
    would otherwise surface as an opaque parse error deep inside a
    ~1k-term generated expression. Failing here names the bad value at
    generation time, where the model bug is."""
    import math

    if not math.isfinite(x):
        raise ValueError(f"non-finite literal {x!r} in generated expr")
    r = repr(float(x))
    if dialect == "spark":
        return f"{r}D"
    return r if ("e" in r or "E" in r) else f"{r}e0"


def _el(arr: str, i: int, dialect: str) -> str:
    """Static array element: Spark brackets are 0-based, DuckDB's
    1-based."""
    return f"{arr}[{i}]" if dialect == "spark" else f"{arr}[{i + 1}]"


def _el_dyn(arr: str, idx_expr: str, dialect: str) -> str:
    """Array element at a runtime 0-based index expression."""
    if dialect == "spark":
        return f"{arr}[{idx_expr}]"
    return f"{arr}[({idx_expr}) + 1]"


def _arr(items: Sequence[str], dialect: str) -> str:
    body = ", ".join(items)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def _chain_add(terms: Sequence[str]) -> str:
    """Left-associated sum — the ONE accumulation order every engine
    and the numpy replay share."""
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


def pq_dist_arrays(
    cb: Codebook, dialect: str, vec_col: str = "v"
) -> list[str]:
    """Per-subspace array expressions of squared L2 distances to each
    centroid: ``[d(sub_j, c_j0), ..., d(sub_j, c_j{ks-1})]`` with every
    ``(c_i - v[...]) * (c_i - v[...])`` term unrolled from codebook
    literals and summed left-associated."""
    dsub = len(cb[0][0])
    out = []
    for j, cents in enumerate(cb):
        dists = []
        for c in cents:
            terms = []
            for i, ci in enumerate(c):
                lit = _flit(ci, dialect)
                el = _el(vec_col, j * dsub + i, dialect)
                terms.append(f"({lit} - {el}) * ({lit} - {el})")
            dists.append(_chain_add(terms))
        out.append(_arr(dists, dialect))
    return out


def pq_argmin_expr(dist_col: str, dialect: str) -> str:
    """0-based index of the minimum distance; both engines' position
    functions return the FIRST match, so exact ties break identically
    (lowest centroid index)."""
    if dialect == "spark":
        pos = f"array_position({dist_col}, array_min({dist_col}))"
    else:
        pos = f"list_position({dist_col}, list_min({dist_col}))"
    return f"CAST({pos} - 1 AS INT)"


def pq_lut_arrays(
    cb: Codebook, dialect: str, query_col: str = "qv"
) -> list[str]:
    """Per-subspace ADC lookup tables for a query row: ``lut_j[k] =
    <c_jk, q_j>`` unrolled left-associated from codebook literals."""
    dsub = len(cb[0][0])
    out = []
    for j, cents in enumerate(cb):
        ips = []
        for c in cents:
            terms = []
            for i, ci in enumerate(c):
                lit = _flit(ci, dialect)
                el = _el(query_col, j * dsub + i, dialect)
                terms.append(f"{lit} * {el}")
            ips.append(_chain_add(terms))
        out.append(_arr(ips, dialect))
    return out


def pq_centroid_sqnorms(cb: Codebook) -> list[list[float]]:
    """``nsq[j][k] = ||c_jk||^2`` accumulated left-associated in
    Python floats — constants baked as literals, so no engine ever
    recomputes them (identical by construction)."""
    out = []
    for cents in cb:
        row = []
        for c in cents:
            acc = c[0] * c[0]
            for x in c[1:]:
                acc = acc + x * x
            row.append(acc)
        out.append(row)
    return out


def pq_adc_ip_expr(
    cb: Codebook,
    dialect: str,
    codes_col: str = "codes",
    lut_prefix: str = "lut_",
) -> str:
    """``sum_j lut_j[code_j]`` — the ADC inner-product chain."""
    ip_terms = []
    for j in range(len(cb)):
        code_j = _el(codes_col, j, dialect)
        ip_terms.append(_el_dyn(f"{lut_prefix}{j}", code_j, dialect))
    return _chain_add(ip_terms)


def pq_res_norm2_expr(
    cb: Codebook, dialect: str, codes_col: str = "codes"
) -> str:
    """``sum_j ||c_j,code_j||^2`` — the reconstructed-vector squared
    norm under pure PQ (subspaces are an orthogonal decomposition,
    so the cross terms are zero), from baked literal tables."""
    nsq = pq_centroid_sqnorms(cb)
    n2_terms = []
    for j in range(len(cb)):
        code_j = _el(codes_col, j, dialect)
        nsq_arr = _arr([_flit(x, dialect) for x in nsq[j]], dialect)
        n2_terms.append(_el_dyn(nsq_arr, code_j, dialect))
    return _chain_add(n2_terms)


def pq_adc_score_expr(
    cb: Codebook,
    dialect: str,
    codes_col: str = "codes",
    lut_prefix: str = "lut_",
) -> str:
    """Approximate cosine numerator/denominator from codes + LUT
    columns: ``sum_j lut_j[code_j] / sqrt(sum_j nsq[j][code_j])``.
    The query norm is a per-query constant, so dividing by it cannot
    change any per-query ordering — the exact rerank restores true
    cosine values for the final k."""
    ip = pq_adc_ip_expr(cb, dialect, codes_col, lut_prefix)
    n2 = pq_res_norm2_expr(cb, dialect, codes_col)
    return f"({ip}) / sqrt({n2})"


def dot_unrolled(a_col: str, b_col: str, dim: int, dialect: str) -> str:
    """``<a, b>`` over two array COLUMNS, unrolled element-by-element
    and summed left-associated — bit-identical across engines for
    identical inputs (same ops, same order), unlike fold-vs-list_sum
    constructs whose accumulation internals differ."""
    terms = [
        f"{_el(a_col, i, dialect)} * {_el(b_col, i, dialect)}"
        for i in range(dim)
    ]
    return _chain_add(terms)


def arr_sub(a_col: str, b_col: str, dim: int, dialect: str) -> str:
    """Elementwise ``a - b`` as an unrolled array constructor — one
    IEEE op per element, identical in both engines."""
    return _arr(
        [
            f"{_el(a_col, i, dialect)} - {_el(b_col, i, dialect)}"
            for i in range(dim)
        ],
        dialect,
    )


Rotation = Sequence[Sequence[float]]  # [d_out][d_in], orthogonal


def rot_vec_expr(rot: Rotation, dialect: str, vec_col: str) -> str:
    """Rotated vector ``R @ v`` as an unrolled array constructor:
    element ``i`` is the left-associated chain ``((R[i][0]*v[0] +
    R[i][1]*v[1]) + ...)`` over literal rotation components — the
    pq_lut_arrays term/order convention, so the numpy/scalar replays
    (`pq_ivf_encode`'s rot step, `rot_apply`) are bit-identical by
    IEEE replay. At dim 64 this is 64 chains x 64 terms; the oracle
    applies it to the sample-scale corpus, the Spark side never
    parses it (rotation runs inside the fused Arrow encode)."""
    rows = []
    for row in rot:
        terms = [
            f"{_flit(rij, dialect)} * {_el(vec_col, j, dialect)}"
            for j, rij in enumerate(row)
        ]
        rows.append(_chain_add(terms))
    return _arr(rows, dialect)


def rot_apply(rot: Rotation, v: Sequence[float]) -> list[float]:
    """`rot_vec_expr`'s chains in Python floats (same terms, same
    left-associated order — IEEE multiply commutes bit-exactly), for
    the K-row/Q-row driver-side model state (rotated centroids and
    query vectors fed to the ADC scan)."""
    out = []
    for row in rot:
        acc = row[0] * v[0]
        for j in range(1, len(row)):
            acc = acc + row[j] * v[j]
        out.append(acc)
    return out


def pq_ivf_norm2_expr(
    cb: Codebook,
    dialect: str,
    codes_col: str = "codes",
    cvlut_prefix: str = "cvlut_",
    cvn2_col: str = "cvn2",
) -> str:
    """``||cv + r_hat||^2 = ||cv||^2 + 2<cv, r_hat> + ||r_hat||^2``
    for IVF-PQ residual codes: the cross term is ``sum_j
    cvlut_j[code_j]`` (per-cluster LUT of <cv_j, c_jk>, computed once
    on the K-row centroid table), the residual norm comes from the
    baked literal tables. Fixed order: (cvn2 + 2*cross) + rn2."""
    cross_terms = []
    for j in range(len(cb)):
        code_j = _el(codes_col, j, dialect)
        cross_terms.append(
            _el_dyn(f"{cvlut_prefix}{j}", code_j, dialect)
        )
    cross = _chain_add(cross_terms)
    rn2 = pq_res_norm2_expr(cb, dialect, codes_col)
    two = _flit(2.0, dialect)
    return f"(({cvn2_col} + ({two} * ({cross}))) + ({rn2}))"


# --------------------------------------------------------------------------
# encoding
# --------------------------------------------------------------------------


def pq_encode_ref(
    df: DataFrame,
    cb: Codebook,
    vec_col: str = "v",
    id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """JVM-expression reference encoder: ``(id, codes)`` via the
    unrolled literal distance arrays — zero shuffle, zero Python, the
    parity anchor for the Arrow fast path (the _ivf_assign_ref
    convention). At the demo geometry the m*ks unrolled distance
    expressions exceed janino's 64KB generated-method limit, so
    whole-stage codegen falls back to interpreted evaluation (a WARN,
    correctness unaffected) — one more reason ``pq_encode`` is the
    production path."""
    dists = pq_dist_arrays(cb, "spark", vec_col)
    staged = df.select(
        id_col,
        *carry_cols,
        *[F.expr(d).alias(f"_d{j}") for j, d in enumerate(dists)],
    )
    return staged.select(
        id_col,
        *carry_cols,
        F.array(
            *[
                F.expr(pq_argmin_expr(f"_d{j}", "spark"))
                for j in range(len(cb))
            ]
        ).alias("codes"),
    )


def pq_encode(
    df: DataFrame,
    cb: Codebook,
    vec_col: str = "v",
    id_col: str = "vec_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Production encoder: one Arrow-batched mapInPandas scan, numpy
    replaying the EXACT left-to-right accumulation order of the
    unrolled JVM form (term i added in subspace order, ``(c - v)^2``
    == ``(v - c)^2`` bit-for-bit since IEEE negation is exact), so
    codes are bit-identical to ``pq_encode_ref`` — pinned in
    tests/test_pq.py. Zero shuffle; the per-batch cost is m matrix
    ops at memory bandwidth (the nearest_centroid argument)."""
    import numpy as np
    import pandas as pd

    m, ks, dsub = len(cb), len(cb[0]), len(cb[0][0])
    C = np.array(cb, dtype=np.float64)  # (m, ks, dsub)

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n = X.shape[0]
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                acc = (C[j][None, :, 0] - S[:, 0:1]) ** 2
                for i in range(1, dsub):
                    t = (C[j][None, :, i] - S[:, i : i + 1]) ** 2
                    acc = acc + t
                codes[:, j] = acc.argmin(axis=1)  # ties -> lowest k
            out = {id_col: pdf[id_col].values}
            for c in carry_cols:
                out[c] = pdf[c].values
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    carry_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}"
        for c in carry_cols
    )
    out_schema = f"{id_col} long{carry_schema}, codes array<int>"
    return df.select(id_col, *carry_cols, vec_col).mapInPandas(
        encode, out_schema
    )


def pq_ivf_encode(
    df: DataFrame,
    cents: Sequence[tuple[int, Sequence[float], float]],
    cb: Codebook,
    vec_col: str = "v",
    nrm_col: str = "nrm",
    id_col: str = "vec_id",
    block: int = 1024,
    rot: "Rotation | None" = None,
) -> DataFrame:
    """FUSED IVF-PQ store build (VERDICT r8 #3): coarse assignment +
    residual + PQ encode in ONE Arrow-batched mapInPandas scan —
    ``(id, centroid_id, codes)`` — replacing the three-stage
    compositional path (JVM/Arrow assign -> broadcast join + unrolled
    ``arr_sub`` residual -> separate ``pq_encode`` scan), whose cost
    dominated the sim9/sim10 build (37.2 s vs sim8's 7.7 s at 1M,
    SCALING.md).

    Bit-exactness is by SHARED CODE and IEEE replay, not argument:

    - assignment calls the same ``assign_nearest_block`` core the
      production `_ivf_assign` UDF runs (max cosine, ties to lowest
      centroid id; a zero-norm row keeps centroid 0 exactly like the
      compositional join);
    - the residual is ONE numpy subtraction per element —
      bit-identical to the unrolled ``arr_sub`` expression (one IEEE
      op per element, no reassociation);
    - the encode replays ``pq_encode``'s left-to-right ``(c - r)^2``
      accumulation chain verbatim.

    Pinned equal to the compositional path at sf0.001/sf0.01 in
    tests/test_pq.py. ``cents`` is the driver-collected K-row coarse
    codebook ``(centroid_id, cv, cn)`` ascending by id with ids
    0..K-1 (the `_ivf_centroids` contract — ``best_id`` indexes the
    centroid matrix directly). Zero shuffle; per-batch cost is the
    assignment GEMM plus m encode matrix ops, all at memory
    bandwidth.

    ``rot`` (optional, sim11/OPQ): an orthogonal rotation applied to
    the RESIDUAL before encoding (Ge et al. 2013 — codes quantize
    ``R @ (v - cv)``). The numpy step accumulates input components in
    ``j`` order — per output element the exact `rot_vec_expr` chain,
    so rotated codes match the DuckDB mirror bit for bit. Assignment
    and centroid_id stay in ORIGINAL space (rotation is applied below
    the coarse quantizer, the Faiss OPQ-as-residual-transform
    shape)."""
    import numpy as np
    import pandas as pd

    from .similarity import assign_nearest_block

    ids = [c[0] for c in cents]
    if ids != list(range(len(ids))):
        raise ValueError(
            "coarse codebook must ascend with centroid_id 0..K-1, got "
            f"{ids[:8]}..."
        )
    cmat = np.array([c[1] for c in cents], dtype=np.float64).T  # dim,K
    cns = np.array([c[2] for c in cents], dtype=np.float64)  # (K,)
    CV = cmat.T.copy()  # (K, dim) row-major for the residual gather
    m, ks, dsub = len(cb), len(cb[0]), len(cb[0][0])
    C = np.array(cb, dtype=np.float64)  # (m, ks, dsub)
    RM = None if rot is None else np.array(rot, dtype=np.float64)

    def fused(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = pdf[nrm_col].to_numpy(np.float64)
            _, best_id = assign_nearest_block(X, nrm, cmat, cns, block)
            R = X - CV[best_id]  # one IEEE sub per element == arr_sub
            if RM is not None:
                # rot_vec_expr's chain: component j's contribution
                # added in j order, R[i][j]*r[j] per term (IEEE
                # multiply commutes bit-exactly)
                acc = R[:, 0:1] * RM[:, 0][None, :]
                for j in range(1, R.shape[1]):
                    acc = acc + R[:, j : j + 1] * RM[:, j][None, :]
                R = acc
            n = R.shape[0]
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                S = R[:, j * dsub : (j + 1) * dsub]
                acc = (C[j][None, :, 0] - S[:, 0:1]) ** 2
                for i in range(1, dsub):
                    t = (C[j][None, :, i] - S[:, i : i + 1]) ** 2
                    acc = acc + t
                codes[:, j] = acc.argmin(axis=1)  # ties -> lowest k
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "centroid_id": best_id,
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col, nrm_col).mapInPandas(
        fused, f"{id_col} long, centroid_id long, codes array<int>"
    )


def cent_values_sql(
    cents: Sequence[tuple[int, Sequence[float]]]
) -> str:
    """DuckDB VALUES body for a baked coarse codebook: every
    component through ``_flit`` so it strtod-parses to the exact
    Python double the Spark side builds its literal DataFrame from
    (the baked-model battery convention)."""
    rows = ", ".join(
        "({}, [{}])".format(
            int(cid), ", ".join(_flit(x, "duckdb") for x in cv)
        )
        for cid, cv in cents
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(centroid_id, cv)"


# --------------------------------------------------------------------------
# the Arrow ADC search fast path (VERDICT r7 #1)
# --------------------------------------------------------------------------
# The JVM unrolled ADC expressions are the cross-engine parity anchor,
# but at the demo geometry they exceed janino's 64 KB generated-method
# limit (interpreted-eval fallback) and cost a Catalyst analysis +
# compile attempt per run. These scans replay the EXACT left-to-right
# accumulation of the unrolled chains in numpy (the pq_encode
# convention — identical literals, identical operation order, IEEE
# ops are deterministic, Math.sqrt and np.sqrt are both correctly
# rounded), so scores and therefore candidate SETS are bit-identical
# to the JVM form — pinned in tests/test_pq.py at sf0.001/sf0.01.


def _np_lut(cb: Codebook, vec: Sequence[float]) -> "object":
    """(m, ks) float64 LUT replaying pq_lut_arrays' left-associated
    chain per element: lut[j][k] = ((c0*v0 + c1*v1) + ...)."""
    import numpy as np

    m, ks, dsub = len(cb), len(cb[0]), len(cb[0][0])
    C = np.array(cb, dtype=np.float64)  # (m, ks, dsub)
    v = np.asarray(vec, dtype=np.float64)
    lut = np.empty((m, ks), dtype=np.float64)
    for j in range(m):
        acc = C[j][:, 0] * v[j * dsub]
        for i in range(1, dsub):
            acc = acc + C[j][:, i] * v[j * dsub + i]
        lut[j] = acc
    return lut


def _np_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """dot_unrolled's left-associated chain in Python floats (IEEE
    doubles, same ops, same order)."""
    acc = a[0] * b[0]
    for i in range(1, len(a)):
        acc = acc + a[i] * b[i]
    return acc


def _prune_topk(s, v, cand: int):
    """Per-batch top-``cand`` cut under the EXACT order the global
    window applies — (score DESC, id ASC) with Spark's NaN semantics
    (NaN is the LARGEST double, so NaN-scored rows rank FIRST; a
    naive lexsort on -s would rank them last and prune rows the JVM
    form keeps). Keys, least to most significant: id asc, negated
    score with NaNs neutralized, then a NaN-first flag."""
    import numpy as np

    if len(v) <= cand:
        return s, v
    nan = np.isnan(s)
    keep = np.lexsort(
        (v, np.where(nan, 0.0, -s), (~nan).astype(np.int8))
    )[:cand]
    return s[keep], v[keep]


def pq_adc_search_scan(
    codes: DataFrame,
    cb: Codebook,
    queries: Sequence[tuple[int, Sequence[float]]],
    cand: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow ADC scoring over a ``(id, codes)`` store for a FEW-row
    query set (collected driver-side — Q-row bounded by the serving
    contract, the codebook-collect convention): per batch, each row's
    approximate score is m LUT lookups accumulated in the JVM chain
    order, then a per-batch top-``cand`` prune under (score DESC, id
    ASC) — a superset of the global top-``cand``, so the downstream
    window cut returns the identical candidate set while only
    ``cand x n_batches`` rows per query ever leave the scan.
    Returns ``(query_id, vec_id, pq_score)``."""
    import numpy as np
    import pandas as pd

    m = len(cb)
    nsq = np.array(pq_centroid_sqnorms(cb), dtype=np.float64)
    luts = [(int(qid), _np_lut(cb, qv)) for qid, qv in queries]

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(np.int64)
            cm = np.array(pdf["codes"].tolist(), dtype=np.int64)
            # rn2 chain: ((nsq0[c0] + nsq1[c1]) + ...) — the
            # pq_res_norm2_expr order
            n2 = nsq[0][cm[:, 0]]
            for j in range(1, m):
                n2 = n2 + nsq[j][cm[:, j]]
            den = np.sqrt(n2)
            oq, oi, os = [], [], []
            for qid, lut in luts:
                ip = lut[0][cm[:, 0]]
                for j in range(1, m):
                    ip = ip + lut[j][cm[:, j]]
                score = ip / den
                mask = ids != qid
                s, v = _prune_topk(score[mask], ids[mask], cand)
                oq.append(np.full(len(v), qid, dtype=np.int64))
                oi.append(v)
                os.append(s)
            if oq:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(oq),
                        "vec_id": np.concatenate(oi),
                        "pq_score": np.concatenate(os),
                    }
                )

    return codes.select(id_col, "codes").mapInPandas(
        scan, "query_id long, vec_id long, pq_score double"
    )


def pq_ivf_adc_search_scan(
    codes: DataFrame,
    cb: Codebook,
    cents: Sequence[tuple[int, Sequence[float]]],
    probes: Sequence[tuple[int, int, Sequence[float]]],
    cand: int,
) -> DataFrame:
    """Arrow IVF-PQ ADC scoring over a ``(vec_id, centroid_id,
    codes)`` residual store. ``cents`` is the K-row coarse codebook
    and ``probes`` the Q*nprobe probe list (query_id, qcluster, qv) —
    both collected driver-side, both bounded model/serving state.
    Per batch: rows are scored ONLY against queries probing their
    cluster, with the reconstruction norm ||cv||^2 + 2<cv,r_hat> +
    ||r_hat||^2 and the ADC numerator replayed in the exact JVM chain
    order (pq_ivf_norm2_expr / pq_adc_ip_expr), then per-batch
    per-query top-``cand`` pruned. Returns
    ``(query_id, vec_id, pq_score)``."""
    import numpy as np
    import pandas as pd

    m = len(cb)
    nsq = np.array(pq_centroid_sqnorms(cb), dtype=np.float64)
    cvd = {int(cid): list(cv) for cid, cv in cents}
    caux = {
        cid: (_np_dot(cv, cv), _np_lut(cb, cv))
        for cid, cv in cvd.items()
    }
    by_cluster: dict[int, list] = {}
    for qid, qcl, qv in probes:
        qip_c = _np_dot(list(qv), cvd[int(qcl)])
        by_cluster.setdefault(int(qcl), []).append(
            (int(qid), qip_c, _np_lut(cb, qv))
        )

    def scan(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            cids = pdf["centroid_id"].to_numpy(np.int64)
            cm = np.array(pdf["codes"].tolist(), dtype=np.int64)
            per_query: dict[int, list] = {}
            for cid in np.unique(cids):
                plist = by_cluster.get(int(cid))
                if not plist:
                    continue
                sel = cids == cid
                sub_ids, sub_cm = ids[sel], cm[sel]
                cvn2, cvlut = caux[int(cid)]
                cross = cvlut[0][sub_cm[:, 0]]
                for j in range(1, m):
                    cross = cross + cvlut[j][sub_cm[:, j]]
                rn2 = nsq[0][sub_cm[:, 0]]
                for j in range(1, m):
                    rn2 = rn2 + nsq[j][sub_cm[:, j]]
                den = np.sqrt((cvn2 + (2.0 * cross)) + rn2)
                # den==0 with a nonzero numerator (zero-reconstruction
                # cluster, nonzero cv residue) is ±inf in numpy but
                # NULL under Spark's Divide — neutralize to NaN so the
                # Arrow path degrades exactly like the 0/0 case the
                # prune/window already order (NaN -> null, ADVICE r8)
                den = np.where(den == 0.0, np.nan, den)
                for qid, qip_c, lut in plist:
                    ip = lut[0][sub_cm[:, 0]]
                    for j in range(1, m):
                        ip = ip + lut[j][sub_cm[:, j]]
                    score = (qip_c + ip) / den
                    mask = sub_ids != qid
                    per_query.setdefault(qid, []).append(
                        (score[mask], sub_ids[mask])
                    )
            oq, oi, os = [], [], []
            for qid, parts in per_query.items():
                s, v = _prune_topk(
                    np.concatenate([p[0] for p in parts]),
                    np.concatenate([p[1] for p in parts]),
                    cand,
                )
                oq.append(np.full(len(v), qid, dtype=np.int64))
                oi.append(v)
                os.append(s)
            if oq:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(oq),
                        "vec_id": np.concatenate(oi),
                        "pq_score": np.concatenate(os),
                    }
                )

    return codes.select("vec_id", "centroid_id", "codes").mapInPandas(
        scan, "query_id long, vec_id long, pq_score double"
    )


# --------------------------------------------------------------------------
# the DuckDB search mirror
# --------------------------------------------------------------------------


def pq_search_oracle_sql(cb: Codebook, cand: int) -> str:
    """The DuckDB mirror of the full PQ/ADC search (encode -> LUT ->
    ADC score -> top-``cand`` cut -> exact rerank -> top-5), generated
    from a codebook through the same two-dialect expression generator
    the Spark side uses — identical literal text, left-associated
    order — so the candidate set matches bit for bit; only the final
    rerank cosine uses DuckDB's list_cosine_similarity (the SIM5_SQL
    convention, compared at round(sim, 4))."""
    m = len(cb)
    dist_cols = ", ".join(
        f"{e} AS d{j}" for j, e in enumerate(pq_dist_arrays(cb, "duckdb"))
    )
    codes = ", ".join(pq_argmin_expr(f"d{j}", "duckdb") for j in range(m))
    lut_cols = ", ".join(
        f"{e} AS lut_{j}"
        for j, e in enumerate(pq_lut_arrays(cb, "duckdb", "qv"))
    )
    score = pq_adc_score_expr(cb, "duckdb")
    return f"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dists AS (
    SELECT vec_id, {dist_cols} FROM base
),
enc AS (
    SELECT vec_id, [{codes}] AS codes FROM dists
),
q AS (
    SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 8
),
lut AS (
    SELECT query_id, {lut_cols} FROM q
),
scored AS (
    SELECT l.query_id, e.vec_id, {score} AS pq_score
    FROM enc e CROSS JOIN lut l
    WHERE e.vec_id <> l.query_id
),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY pq_score DESC, vec_id ASC
        ) AS rn FROM scored
    ) WHERE rn <= {cand}
),
rerank AS (
    SELECT c.query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.qv, b.v) AS sim
    FROM cand c
    JOIN base b ON b.vec_id = c.vec_id
    JOIN q ON q.query_id = c.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(sim, 4) AS sim
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
    ) AS rank FROM rerank
) WHERE rank <= 5
"""


def pq_ivf_search_oracle_sql(
    cb: Codebook,
    k: int,
    nprobe: int,
    cand: int,
    multiprobe_frac: float | None = None,
    cent_sql: str | None = None,
    rot: Rotation | None = None,
) -> str:
    """The DuckDB mirror of the IVF-PQ search (sim9): coarse
    assignment (first-``k`` centroids, max cosine — the SIM6_SQL
    convention), residual PQ encode, per-cluster <cv_j, c_jk> LUTs
    and exact reconstruction norms, probe-scoped ADC scoring, top-
    ``cand`` cut, exact rerank. Everything downstream of (assignment,
    codebook) is unrolled fixed-order arithmetic, so the candidate
    set matches the Spark side bit for bit given the same assignment
    (itself pinned by the sim6-green cosine-rank convention).

    ``multiprobe_frac`` switches the probe CTE to the budgeted
    MULTI-PROBE rule (VERDICT r7 #3): clusters in descending
    query-centroid cosine order until the cumulative assigned size
    reaches ``GREATEST(1, FLOOR(n * frac))`` — the exact integer the
    Spark side computes (``max(1, int(n * frac))``; same IEEE
    multiply, floor == trunc for positives). ``cent_sql`` overrides
    the coarse-codebook CTE body (used by the baked-model battery
    branch, where centroids are frozen literals)."""
    m, dsub = len(cb), len(cb[0][0])
    dim = m * dsub
    r = arr_sub("v", "cv", dim, "duckdb")
    dist_cols = ", ".join(
        f"{e} AS d{j}"
        for j, e in enumerate(pq_dist_arrays(cb, "duckdb", "r"))
    )
    codes = ", ".join(pq_argmin_expr(f"d{j}", "duckdb") for j in range(m))
    cvlut_cols = ", ".join(
        f"{e} AS cvlut_{j}"
        for j, e in enumerate(pq_lut_arrays(cb, "duckdb", "cv"))
    )
    qlut_cols = ", ".join(
        f"{e} AS lut_{j}"
        for j, e in enumerate(pq_lut_arrays(cb, "duckdb", "qv"))
    )
    cvn2 = dot_unrolled("cv", "cv", dim, "duckdb")
    qip = dot_unrolled("qv", "cv", dim, "duckdb")
    n2 = pq_ivf_norm2_expr(cb, "duckdb")
    ip = pq_adc_ip_expr(cb, "duckdb")
    if cent_sql is None:
        cent_sql = (
            f"SELECT vec_id AS centroid_id, v AS cv FROM e"
            f" WHERE vec_id < {k}"
        )
    if multiprobe_frac is None:
        probe_sql = f"""
    SELECT vec_id AS query_id, v AS qv, centroid_id AS qcluster, cv
    FROM ranked
    WHERE rn <= {nprobe} AND vec_id >= 8 AND vec_id < 16
"""
        size_ctes = ""
    else:
        frac = _flit(multiprobe_frac, "duckdb")
        size_ctes = f"""
sizes AS (
    SELECT centroid_id, COUNT(*) AS csz FROM res GROUP BY centroid_id
),
tgt AS (
    SELECT GREATEST(1, CAST(FLOOR(SUM(csz) * {frac}) AS BIGINT))
               AS target
    FROM sizes
),"""
        probe_sql = f"""
    SELECT query_id, qv, qcluster, cv FROM (
        SELECT r.vec_id AS query_id, r.v AS qv,
               r.centroid_id AS qcluster, r.cv,
               COALESCE(SUM(COALESCE(s.csz, 0)) OVER (
                   PARTITION BY r.vec_id ORDER BY r.rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM ranked r LEFT JOIN sizes s
          ON s.centroid_id = r.centroid_id
        WHERE r.vec_id >= 8 AND r.vec_id < 16
    ), tgt
    WHERE cum_before < tgt.target
"""
    # rot (sim11/OPQ): PQ quantizes the ROTATED residual, so every
    # vector feeding a LUT/dist/ADC expression is wrapped in the
    # rot_vec_expr chains — while assignment ("ranked"), probe
    # SELECTION and the exact rerank stay in ORIGINAL space (rotation
    # sits below the coarse quantizer; cosine inputs to the rerank
    # are the raw vectors, untouched). The Spark twin applies the
    # identical chains in pq_ivf_encode's rot step and rot_apply'd
    # driver-side cents/probes.
    if rot is None:
        res_src, aux_src, qlut_src = "res", "cent", "probe"
    else:
        rr = rot_vec_expr(rot, "duckdb", "r")
        rcv = rot_vec_expr(rot, "duckdb", "cv")
        rqv = rot_vec_expr(rot, "duckdb", "qv")
        res_src = (
            f"(SELECT vec_id, centroid_id, {rr} AS r FROM res) rot_res"
        )
        aux_src = (
            f"(SELECT centroid_id, {rcv} AS cv FROM cent) rot_cent"
        )
        qlut_src = (
            f"(SELECT query_id, qcluster, {rqv} AS qv, {rcv} AS cv "
            f"FROM probe) rot_probe"
        )
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
    {cent_sql}
),
ranked AS (
    SELECT e.vec_id, e.v, c.centroid_id, c.cv,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
                        c.centroid_id ASC) AS rn
    FROM e CROSS JOIN cent c
),
res AS (
    SELECT vec_id, centroid_id, {r} AS r
    FROM ranked WHERE rn = 1
),
dists AS (
    SELECT vec_id, centroid_id, {dist_cols} FROM {res_src}
),
enc AS (
    SELECT vec_id, centroid_id, [{codes}] AS codes FROM dists
),
aux AS (
    SELECT centroid_id, {cvn2} AS cvn2, {cvlut_cols} FROM {aux_src}
),
store AS (
    SELECT enc.vec_id, enc.centroid_id, enc.codes, {n2} AS n2
    FROM enc JOIN aux ON aux.centroid_id = enc.centroid_id
),{size_ctes}
probe AS (
{probe_sql}),
qlut AS (
    SELECT query_id, qcluster, {qip} AS qip_c, {qlut_cols} FROM {qlut_src}
),
scored AS (
    SELECT ql.query_id, s.vec_id,
           (ql.qip_c + ({ip})) / sqrt(s.n2) AS adc
    FROM store s
    JOIN qlut ql
      ON s.centroid_id = ql.qcluster AND s.vec_id <> ql.query_id
),
cand AS (
    SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc DESC, vec_id ASC
        ) AS rn FROM scored
    ) WHERE rn <= {cand}
),
qq AS (
    SELECT vec_id AS query_id, v AS qv FROM e
    WHERE vec_id >= 8 AND vec_id < 16
),
rerank AS (
    SELECT c.query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.qv, b.v) AS sim
    FROM cand c
    JOIN e b ON b.vec_id = c.vec_id
    JOIN qq q ON q.query_id = c.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       round(sim, 4) AS sim
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
    ) AS rank FROM rerank
) WHERE rank <= 5
"""
