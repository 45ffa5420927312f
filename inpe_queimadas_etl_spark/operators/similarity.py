"""Similarity-search operators: cosine scoring and sign-LSH bucketing.

The scale path for approximate-nearest-neighbor over an embedding
column (``array<float>``): hash every vector into a small bucket id
with deterministic random hyperplanes (sign LSH), then join only
within buckets instead of the full cross product. At 100 TB the
bucket id is a uniform shuffle key, so the candidate join is skew-free
and each task sees ~n/256 of the corpus; the exact cosine is computed
only on bucket-mates.

Everything here is JVM-side column expressions (no Python UDFs):
hyperplane components are integer splitmix64 pseudo-randoms baked into
the plan as literals, and dot products are explicit left-to-right sums so
an external oracle (DuckDB) computing the same expression gets
bit-identical IEEE results — sign decisions can never diverge.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Integer hyperplane components: r(j, d) in [-1000, 1000], derived
# from a splitmix64 hash of the (plane, dimension) index. The previous
# single-stream LCG made consecutive planes shifted copies of one
# arithmetic progression mod 2001 — some plane pairs were EXACTLY
# collinear (|cos| = 1.0, mean off-diagonal |cos| 0.38), which
# collapsed a 12-bit band's effective entropy to ~2 % pair-collision
# probability instead of 2^-12 and made dd6's candidate set ~11 % of
# ALL pairs on random corpora (quadratic by construction; caught by
# tests/test_dd6_geometry.py). splitmix64 output is uncorrelated
# across indices, so planes are independent draws and the banded-LSH
# analysis holds. Components stay integer literals, so the DuckDB
# oracle consumes the exact same weights and sign decisions are
# bit-identical by construction.

_SM64_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _SM64_MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _SM64_MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _SM64_MASK
    return x ^ (x >> 31)


def hyperplane(j: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane j over `dim` components."""
    return [
        (_splitmix64(j * 1_000_003 + d) % 2001) - 1000 for d in range(dim)
    ]


def dot_literal(vec_col: str, weights: list[int]) -> Column:
    """Explicit left-to-right weighted sum  w0*v[0] + w1*v[1] + ... .

    Built as one flat expression (not a fold) so the floating-point
    association order is part of the query text and can be replicated
    exactly by any engine."""
    expr = " + ".join(
        f"({w}.0D * {vec_col}[{d}])" for d, w in enumerate(weights)
    )
    return F.expr(expr)


def dot_literal_sql(vec_expr: str, weights: list[int]) -> str:
    """The same expression in ANSI/DuckDB SQL (1-based list indexing)."""
    return " + ".join(
        f"({w}.0 * {vec_expr}[{d + 1}])" for d, w in enumerate(weights)
    )


def _dot_fold(vec_col: str, weights: list[int]) -> Column:
    """Weighted sum as a sequential fold over a constant-folded weight
    array. Bit-identical to :func:`dot_literal`'s flat left-associated
    sum: ``aggregate`` accumulates elements strictly left-to-right with
    the same per-step IEEE rounding, and the 0.0 seed is exact
    (``0.0 + x == x``; a ±0 sign difference can never flip a ``>= 0``
    sign decision). Unlike the flat form, the generated code stays tiny
    — 16 planes x 64 dims as flat expressions blows janino's 64 KB
    method limit and knocks the whole stage out of codegen."""
    w = F.array(*[F.lit(float(x)) for x in weights])
    return F.aggregate(
        F.zip_with(F.col(vec_col), w, lambda v, wt: wt * v),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lsh_bucket(
    vec_col: str, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Sign-LSH bucket id: bit j set iff  r_(j+offset) . v >= 0
    (2^n_planes buckets). Map-side only — adds zero shuffle.
    ``plane_offset`` selects a disjoint hyperplane set, so several
    independent band buckets can be derived from one vector (banded
    multi-probe LSH)."""
    terms = []
    for j in range(n_planes):
        bit = F.when(
            _dot_fold(vec_col, hyperplane(j + plane_offset, dim)) >= 0.0, 2**j
        ).otherwise(0)
        terms.append(bit)
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def lsh_band_buckets(
    vec_col: str,
    dim: int,
    n_bands: int,
    band_bits: int,
    plane_offset: int = 0,
) -> Column:
    """All ``n_bands`` sign-LSH band buckets in ONE Arrow-batched
    pass: an ``array<int>`` of length n_bands whose element b equals
    ``lsh_bucket(vec_col, dim, band_bits, plane_offset + b*band_bits)``
    — BIT-IDENTICAL, pinned by tests/test_similarity_fastpath.py.

    Why a Pandas UDF when the rest of this module is JVM-side: the
    fold in :func:`_dot_fold` is a higher-order function, which Spark
    interprets per element (HOF lambdas never enter whole-stage
    codegen), so n_bands*band_bits folds x dim elements dominate
    dd6-family wall time (VERDICT r4: "96 interpreted hyperplane
    folds per vector" is dd6's high constant; the flat codegen form
    blows janino's 64 KB method limit — see _dot_fold). One numpy
    pass computes every plane for a whole Arrow batch at once:
    measured 7.3x faster on 20k vectors, and it is the same IEEE
    arithmetic —

      fold step k:   acc = acc + (w_k * v_k)    (2 roundings)
      numpy step k:  acc += V[:, k] * W[k, :]   (same 2 roundings)

    — identical association order and seed (0.0), so sign decisions
    can never diverge from the JVM/oracle expression. NaN components
    follow Spark's NaN ordering (NaN >= 0 is TRUE) via ~(acc < 0);
    a NULL vector gets bucket 0 in every band, matching the JVM
    when(NULL >= 0).otherwise(0) collapse. Vectors with NULL
    *elements* are out of contract (Arrow erases them to NaN; the
    JVM path collapses them to bucket 0) — the embedding tables are
    non-null throughout.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    n_planes = n_bands * band_bits
    weights = np.array(
        [hyperplane(j + plane_offset, dim) for j in range(n_planes)],
        dtype=np.float64,
    ).T  # (dim, n_planes)
    bit_values = np.array(
        [1 << (j % band_bits) for j in range(n_planes)], dtype=np.int64
    )

    def _buckets_fn(vs):
        arr = vs.to_numpy()
        if len(arr) == 0:
            return pd.Series([], dtype=object)
        # NULL vectors AND length-mismatched vectors collapse to
        # bucket 0 in every band, exactly like the JVM expression:
        # zip_with pads the shorter side with NULLs, the fold goes
        # NULL, and when(NULL >= 0).otherwise(0) yields 0. (Exact
        # copies of a mismatched dim still share every bucket, so the
        # exact-cosine verify — computed over the vectors' own length
        # — catches them; but the LSH itself is degenerate for
        # wrong-dim corpora. Build the index with the corpus's real
        # dim.)
        zero_rows = np.array(
            [a is None or len(a) != dim for a in arr]
        )
        if zero_rows.any():
            zero = np.zeros(dim, dtype=np.float64)
            mat = np.stack(
                [
                    zero
                    if a is None or len(a) != dim
                    else np.asarray(a, dtype=np.float64)
                    for a in arr
                ]
            )
        else:
            mat = np.stack(arr).astype(np.float64, copy=False)
        acc = np.zeros((mat.shape[0], n_planes), dtype=np.float64)
        for d in range(dim):
            acc += mat[:, d : d + 1] * weights[d, :]
        bits = ~(acc < 0.0)  # NaN -> True, matching Spark NaN >= 0
        if zero_rows.any():
            bits[zero_rows] = False  # NULL/mismatch -> bucket 0
        buckets = (
            (bits * bit_values)
            .reshape(mat.shape[0], n_bands, band_bits)
            .sum(axis=2)
            .astype(np.int32)
        )
        return pd.Series(list(buckets))

    # explicit annotations: this module uses `from __future__ import
    # annotations`, which stringifies hints and breaks pandas_udf's
    # eval-type inference
    _buckets_fn.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _buckets = pandas_udf(ArrayType(IntegerType()))(_buckets_fn)
    return _buckets(vec_col)


def lsh_bucket_sql(
    vec_expr: str, dim: int, n_planes: int = 8, plane_offset: int = 0
) -> str:
    """DuckDB mirror of :func:`lsh_bucket`."""
    cases = [
        f"(CASE WHEN {dot_literal_sql(vec_expr, hyperplane(j + plane_offset, dim))} >= 0.0"
        f" THEN {2 ** j} ELSE 0 END)"
        for j in range(n_planes)
    ]
    return "(" + " + ".join(cases) + ")"


def vec_norm(col) -> Column:
    """Euclidean norm of an array<double> column — the exact
    sub-expression :func:`cosine` folds per pair. Precompute it ONCE
    per vector and verify pairs with :func:`dot_product` /(na*nb):
    bit-identical to cosine() (the norm is the same double either
    way) at a third of the per-pair fold cost. Measured: shipping
    pairs through an Arrow cosine UDF instead LOSES — two 64-dim
    vectors per candidate pair cross the Python boundary, which costs
    more than the interpreted fold it saves (dd6 sweep 3.4 s -> 5.6 s
    at 50k docs) — so pair verification stays JVM-side."""
    return F.sqrt(
        F.aggregate(F.col(col), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def dot_product(a_col: str, b_col: str) -> Column:
    """Left-to-right dot-product fold of two array<double> columns —
    the exact sub-expression :func:`cosine` uses."""
    return F.aggregate(
        F.zip_with(a_col, b_col, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a_col: str, b_col: str) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side
    (zip_with product + aggregate fold; no Python in the loop).
    For candidate-verify joins, precompute :func:`vec_norm` per
    vector and divide :func:`dot_product` by the norms — bit-identical
    and ~3x cheaper per pair.

    try_divide: a zero-norm (or zero-length) vector yields NULL
    instead of crashing the job — Spark 4's default ANSI mode raises
    DIVIDE_BY_ZERO even for double division, and real corpora contain
    empty documents whose embeddings can be all-zero. For every
    nonzero divisor try_divide is the same IEEE division, so
    oracle-checked results are untouched (pinned by
    tests/test_similarity_fastpath.py)."""
    return F.try_divide(
        dot_product(a_col, b_col), vec_norm(a_col) * vec_norm(b_col)
    )


def assign_nearest_block(mat, nrm, cmat, cns, block: int = 1024):
    """The blocked nearest-centroid argmax core of
    :func:`nearest_centroid` (the Arrow assignment UDF).

    ``mat`` is ``(n, dim)`` float64 vectors, ``nrm`` their ``(n,)``
    norms, ``cmat`` the ``(dim, K)`` centroid matrix, ``cns`` the
    ``(K,)`` centroid norms. Returns ``(best_sim, best_id)`` float64 /
    int64 arrays — max cosine, ties to the LOWEST centroid id, IEEE
    sequence identical to the JVM zip_with/fold expression (see
    :func:`nearest_centroid`'s docstring for the replay argument).
    A row with no finite csim (zero-norm vector) keeps
    ``best_sim=-inf`` and ``best_id=0``; the UDF maps that to NULL."""
    import numpy as np

    n = mat.shape[0]
    dim, k = cmat.shape
    best_sim = np.full(n, -np.inf)
    best_id = np.zeros(n, dtype=np.int64)
    for lo in range(0, k, block):
        hi = min(lo + block, k)
        acc = np.zeros((n, hi - lo), dtype=np.float64)
        for d in range(dim):
            acc += mat[:, d : d + 1] * cmat[d, lo:hi]
        denom = nrm[:, None] * cns[None, lo:hi]
        with np.errstate(divide="ignore", invalid="ignore"):
            csim = acc / denom
        csim[denom == 0.0] = -np.inf
        # strict > in ascending-id order == ties to lowest id;
        # argmax within the block keeps the block's lowest id too
        # (np.argmax returns the FIRST maximum)
        bi = np.argmax(csim, axis=1)
        bs = csim[np.arange(n), bi]
        upd = bs > best_sim
        best_sim[upd] = bs[upd]
        best_id[upd] = bi[upd] + lo
    return best_sim, best_id


def nearest_centroid(
    vec_col: str,
    nrm_col: str,
    centroids: list[tuple[int, list[float], float]],
    dim: int,
    block: int = 1024,
) -> Column:
    """Arrow-batched nearest-centroid argmax over a driver-collected
    codebook: ``struct(csim double, centroid_id bigint)`` — max cosine,
    ties to the LOWEST centroid id, the exact (desc csim, asc id)
    order every IVF oracle here states.

    Why a Pandas UDF (the lsh_band_buckets argument, same shape): the
    JVM reference form folds K interpreted HOF dot products per row —
    fine at the demo K=4, but assignment cost is n*K*dim and a
    realistic codebook (SemDeDup runs K ~ n/10k; IVF serving wants
    K in the thousands) turns the interpreted fold into THE build
    bottleneck. One numpy pass computes a whole Arrow batch against
    the codebook at memory bandwidth, with the same IEEE sequence as
    the fold —

      fold step d:   acc = acc + (v_d * c_d)      (2 roundings)
      numpy step d:  acc += V[:, d:d+1] * C[d, :] (same 2 roundings)

    — then ``csim = dot / (nrm * cn)`` (one multiply, one divide,
    both replayed), so the argmax is BIT-IDENTICAL to the JVM
    array_max-over-structs expression (pinned by
    tests/test_similarity_fastpath.py, including exact-tie codebooks).
    ``block`` bounds peak memory to rows_per_batch x block doubles;
    blocks ascend by centroid id and updates use strict ``>``, which
    is exactly ties-to-lowest-id.

    try_divide parity: a zero denominator (zero-norm vector or
    centroid) scores NULL JVM-side and loses the max to any non-null
    csim; here it scores -inf and loses identically. A row with NO
    non-null csim (zero-norm vector) collapses to (NULL, 0) — the
    JVM's max-of-all-null-csim structs resolves by neg_id to centroid
    0. ``centroids`` must be sorted ascending by centroid_id with ids
    0..K-1 (the _ivf_centroids contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    ids = [c[0] for c in centroids]
    assert ids == sorted(ids), "codebook must ascend by centroid_id"
    cmat = np.array([c[1] for c in centroids], dtype=np.float64).T  # dim,K
    cns = np.array([c[2] for c in centroids], dtype=np.float64)  # (K,)

    def _assign_fn(vs, nrms):
        if len(vs) == 0:
            return pd.DataFrame(
                {
                    "csim": pd.Series([], dtype="float64"),
                    "centroid_id": pd.Series([], dtype="int64"),
                }
            )
        mat = np.stack(vs.to_numpy()).astype(np.float64, copy=False)
        nrm = nrms.to_numpy(dtype=np.float64)
        best_sim, best_id = assign_nearest_block(mat, nrm, cmat, cns, block)
        out_sim = pd.Series(best_sim, dtype="float64")
        out_sim[~np.isfinite(best_sim)] = None  # all-null csim row
        return pd.DataFrame(
            {"csim": out_sim, "centroid_id": pd.Series(best_id)}
        )

    _assign_fn.__annotations__ = {
        "vs": pd.Series,
        "nrms": pd.Series,
        "return": pd.DataFrame,
    }
    out_type = StructType(
        [
            StructField("csim", DoubleType()),
            StructField("centroid_id", LongType()),
        ]
    )
    # asNondeterministic (guide §4.4): the downstream centroid_id
    # equi-join pushes an isnotnull(centroid_id) filter below the
    # projection, and Catalyst satisfies it by DUPLICATING the UDF —
    # plans carried two ArrowEvalPython nodes running the full
    # assignment twice per row (seen in sim6's store build,
    # plans/r12/sim6_ivf_sq8_ann_after.txt nodes (3)/(7) before this
    # fix). The function is pure — the marker only forbids the
    # optimizer to clone or reorder it, so values are unchanged
    # (pinned bit-identical to the JVM reference form either way).
    # Tradeoff (ADVICE r12): the marker applies to EVERY consumer of
    # nearest_centroid (sim6's store build, semdedup, dd12) and
    # blocks legitimate filter pushdown THROUGH the projection for all
    # of them — a future consumer that must prune rows before
    # assignment has to pre-filter its input explicitly.
    _assign = pandas_udf(out_type)(_assign_fn).asNondeterministic()
    return _assign(vec_col, nrm_col)


def cosine_block(V, nv, W, nw):
    """All-pairs cosine block ``(n, m)`` between row matrices ``V``
    ``(n, dim)`` and ``W`` ``(m, dim)`` with precomputed norms,
    IEEE-replaying the JVM pair expression
    ``try_divide(dot_product(v, w), nv * nw)`` so every entry is
    BIT-IDENTICAL to the zip_with/fold form (the nearest_centroid
    convention):

      fold step d:   acc = acc + (v_d * w_d)        (2 roundings)
      numpy step d:  acc += V[:, d:d+1] * W[:, d]   (same 2 roundings)

    then one multiply (``nv * nw``) and one divide, both replayed.
    A zero denominator scores ``-inf`` where try_divide scores NULL —
    and NULL loses every ``>= tau`` comparison and every ``max``
    exactly as ``-inf`` does, so threshold counts and maxima match
    (pinned by tests/test_similarity_fastpath.py).

    Why this exists (vs the vec_norm docstring's measured rejection of
    an Arrow PER-PAIR cosine UDF): there each candidate pair shipped
    BOTH vectors across the Python boundary — O(pairs * dim) transfer.
    Here each vector crosses ONCE per batch/group and the n*m sims are
    dense numpy work — O(rows * dim) transfer for O(n*m*dim) flops at
    memory bandwidth, which is the regime where Arrow wins (the
    cluster-scoped SemDeDup sweep and broadcast-eval decontamination
    scorer, suite/llmdata.py)."""
    import numpy as np

    n, dim = V.shape
    acc = np.zeros((n, W.shape[0]), dtype=np.float64)
    for d in range(dim):
        acc += V[:, d : d + 1] * W[:, d][None, :]
    denom = nv[:, None] * nw[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = acc / denom
    sim[denom == 0.0] = -np.inf
    return sim
