"""Product quantization (PQ) for embedding columns — the memory-side
ANN scale path beyond scalar int8 quantization (Jégou et al., TPAMI
2011; the FAISS ``IVF,PQ`` compression half).

Splits each d-dim vector into ``m`` subvectors, learns a tiny
codebook per subspace (here: the deterministic fixed-iteration Lloyd
twin from ``operators/ann.py``, so the whole trajectory is
oracle-reproducible), and stores each vector as ``m`` small codes —
64 dims × 4 bytes → 4 codes ≈ 64× compression. Query-time ranking is
asymmetric distance computation (ADC): the query precomputes its
distance to every subspace centroid (an m × k lookup table, broadcast
— it IS the query's representation), and a vector's approximate
distance is the sum of ``m`` table lookups on its codes. No
full-width vector ever moves through the ranking join.

Scale shape: codebook fit is sample-bounded (fit on a sample, encode
the full corpus — same discipline as ``lloyd_kmeans_partition``);
encoding is one ``encode_nearest`` step for all m subspaces; ADC
ranking is a broadcast equi-join on (subspace, code) followed by a
map-side-combined sum — never a crossJoin against raw vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from resume_jd_matcher_spark.functions.vector import squared_l2
from resume_jd_matcher_spark.operators.ann import (
    _long_form,
    encode_nearest,
    lloyd_kmeans_grouped,
)

# Codebooks fit on the FIT_SAMPLE_ROWS lowest-id vectors. Spark plans
# the sample's orderBy(id).limit(n) as a top-k whose selector
# allocates a buffer sized by n BEFORE it reads a row, so this must
# stay small: a limit of 10**9 exhausts the driver heap on any corpus.
# Read at call time, so tests monkeypatch it.
FIT_SAMPLE_ROWS = 100_000


def _fit_encode(
    corpus: DataFrame,
    m: int,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
    coarse: tuple[str, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ set-up: group s in 0..m-1 is subspace s (dims
    [s·d/m, (s+1)·d/m), k codes each); ``coarse`` = (part_col, n_lists)
    adds group -1, the full-width coarse quantizer. All groups fit in
    ONE grouped Lloyd pass over the prefix sample and encode through
    ``encode_nearest``. Returns (corpus + code_0..code_{m-1} [+
    part_col], the fitted (subspace, _cid, centroid) table)."""
    first = corpus.select(vec_col).first()
    dim = len(first[0]) if first is not None and first[0] is not None else 0
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    dbl = f"transform(`{vec_col}`, x -> double(x))"
    columns = {
        s: (f"code_{s}", f"slice({dbl}, {s * sub + 1}, {sub})") for s in range(m)
    }
    k_by_group = None
    total = k * dim  # m subspaces × k codes × sub values
    if coarse is not None:
        part_col, n_lists = coarse
        columns[-1] = (part_col, dbl)
        k_by_group = {-1: n_lists}
        total += n_lists * dim
    fit = corpus.select(id_col, vec_col).orderBy(id_col).limit(FIT_SAMPLE_ROWS)
    cents = lloyd_kmeans_grouped(
        _long_form(fit, id_col, "subspace", columns),
        n_clusters=k,
        n_iter=n_iter,
        group_col="subspace",
        id_col=id_col,
        vec_col="_v",
        round_dp=round_dp,
        n_clusters_by_group=k_by_group,
    )
    encoded = encode_nearest(
        corpus,
        cents,
        columns,
        group_col="subspace",
        id_col=id_col,
        known_total=total,
    )
    return encoded, cents


def pq_fit_encode(
    corpus: DataFrame,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Fit ``m`` subspace codebooks on a bounded sample, encode the
    full corpus.

    Returns (codes, codebooks):
    - codes: (id, code_0..code_{m-1}) — one small int per subspace;
    - codebooks: (subspace, code, centroid) — m × k rows, broadcast-
      sized by construction.

    Subspace s covers dims [s·d/m, (s+1)·d/m); each codebook is the
    deterministic Lloyd twin (lowest-id seeds, per-iteration rounding
    to ``round_dp``) run on that slice, so a SQL oracle can replay the
    exact trajectory per subspace.

    The fit scans only the ``FIT_SAMPLE_ROWS`` lowest-id vectors (a
    deterministic prefix sample — the Lloyd seeds are the lowest ids
    anyway, so whenever the corpus fits inside the cap the trajectory
    is bit-identical to a full-corpus fit and the SQL oracle needs no
    sample clause). All ``m`` subspace codebooks are fitted in ONE
    grouped Lloyd pass (``lloyd_kmeans_grouped`` keyed by subspace):
    each iteration is a single scan of the long-form sample, not one
    scan per subspace. Encoding the full corpus is one
    ``encode_nearest`` call against the fitted m×k centroid table — at
    100 TB the Lloyd iterations cost sample-sized shuffles, never
    full-corpus ones, and every join in the plan is an equi-join.
    """
    encoded, cents = _fit_encode(
        corpus.select(id_col, vec_col), m, k, n_iter, id_col, vec_col, round_dp
    )
    codes = encoded.select(id_col, *[f"code_{s}" for s in range(m)])
    codebooks = cents.select(
        "subspace", F.col("_cid").alias("code"), "centroid"
    )
    return codes, codebooks


def ivf_pq_fit_encode(
    corpus: DataFrame,
    n_lists: int = 4,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    part_col: str = "cid",
    round_dp: int = 6,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fused IVF+PQ fit-and-encode: the coarse quantizer and all m
    subspace codebooks learn in ONE grouped Lloyd pass, and the full
    corpus is encoded in ONE ``encode_nearest`` call.

    Group -1 carries the full-width coarse geometry (n_lists
    centroids); groups 0..m-1 the PQ subspaces (k codes each) — per
    group the trajectory is bit-identical to running
    ``lloyd_kmeans_partition`` / ``pq_fit_encode`` separately (same
    lowest-id seeds, per-iteration rounding, argmin tie-break;
    groups are independent in grouped Lloyd), so the oracle replay
    is unchanged. The fusion halves the fit's materialization jobs
    (one seed + n_iter centroid checkpoints instead of two of each)
    and, when the fitted table fits the literal-argmin budget, the
    corpus encode emits cid AND code_0..code_{m-1} in one narrow
    shuffle-free projection (no long-form explode, no pivot agg).
    At 100 TB: one sample-bounded fit pass instead of two, one
    corpus pass instead of two.

    Returns (encoded, coarse_cents, codebooks): encoded =
    corpus columns + part_col + code_0..code_{m-1};
    coarse_cents = (part_col, centroid); codebooks =
    (subspace, code, centroid).
    """
    encoded, cents = _fit_encode(
        corpus, m, k, n_iter, id_col, vec_col, round_dp, (part_col, n_lists)
    )
    coarse_cents = cents.filter(F.col("subspace") == -1).select(
        F.col("_cid").alias(part_col), "centroid"
    )
    codebooks = cents.filter(F.col("subspace") >= 0).select(
        "subspace", F.col("_cid").alias("code"), "centroid"
    )
    return encoded, coarse_cents, codebooks


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k_top: int = 5,
    m: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    round_dp: int = 6,
) -> DataFrame:
    """ADC top-k: rank encoded vectors against raw queries.

    Builds the per-query distance table (query × subspace × code —
    |Q| · m · k rows, broadcast), then one equi-join per subspace on
    the vector's code and a row-local sum. Approximate by
    construction (quantization error), deterministic given the
    codebooks; ``dist ≈ Σ_s ||q_s − c_s(code_s)||²`` with the same
    rounding contract as the codebook fit.

    Output: (query_id, id, dist, rn) — ``rn`` the dense top-k rank
    with (dist, id) tie-break.
    """
    dtab = _adc_distance_table(
        queries, codebooks, m, query_id_col, query_vec_col, round_dp
    )
    long_codes = _long_codes(codes, m, id_col)
    summed = (
        long_codes.join(F.broadcast(dtab), ["subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_d"), round_dp).alias("dist"))
    )
    return _rank_topk(summed, k_top, id_col, query_id_col)


def _adc_distance_table(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int,
    query_id_col: str,
    query_vec_col: str,
    round_dp: int,
) -> DataFrame:
    """(query_id, subspace, code, _d): the query's distance to every
    subspace centroid — |Q| · m · k rows, broadcast-sized. This IS the
    query's PQ representation."""
    dim_expr = F.size(query_vec_col)
    q_sub = queries.select(
        query_id_col,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace"),
        F.col(query_vec_col).alias("_qv"),
        (dim_expr / m).cast("int").alias("_sub"),
    ).select(
        query_id_col,
        "subspace",
        F.slice(
            "_qv", F.col("subspace") * F.col("_sub") + 1, F.col("_sub")
        ).alias("_qs"),
    )
    return q_sub.join(F.broadcast(codebooks), "subspace").select(
        query_id_col,
        "subspace",
        "code",
        F.round(squared_l2(F.col("_qs"), F.col("centroid")), round_dp).alias(
            "_d"
        ),
    )


def _long_codes(codes: DataFrame, m: int, id_col: str) -> DataFrame:
    """Wide (id, code_0..code_{m-1}) → long (id, subspace, code); the
    shape the (subspace, code) equi-join ranks on. Nothing
    vector-width survives past this point."""
    return codes.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.sequence(F.lit(0), F.lit(m - 1)).alias("subspace"),
                F.array(*[F.col(f"code_{s}") for s in range(m)]).alias("code"),
            )
        ).alias("_sc"),
    ).select(
        id_col,
        F.col("_sc.subspace").alias("subspace"),
        F.col("_sc.code").alias("code"),
    )


def _rank_topk(
    summed: DataFrame, k_top: int, id_col: str, query_id_col: str
) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy("dist", id_col)
    return (
        summed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k_top)
        .select(query_id_col, id_col, "dist", F.col("rn").cast("int").alias("rn"))
    )


def ivf_pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    parted: DataFrame,
    coarse_cents: DataFrame,
    queries: DataFrame,
    k_top: int = 5,
    n_probe: int = 2,
    m: int = 4,
    id_col: str = "vec_id",
    part_col: str = "cid",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_embedding",
    round_dp: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """IVF-PQ (the FAISS ``IVFx,PQy`` serving composition): a learned
    coarse quantizer routes each query to its ``n_probe`` nearest
    partitions, and only vectors in those partitions are ADC-ranked
    against the query's broadcast distance table.

    The candidate set is ~N · n_probe / n_lists rows instead of N —
    the IVF pruning — and each candidate costs m code lookups instead
    of a d-dim distance — the PQ compression. Join chain: queries ×
    broadcast coarse centroids (≤n_lists rows) → top-n_probe
    partitions; routed (query, partition) equi-joins the partition
    assignment; candidates equi-join their codes and the broadcast
    distance table; one map-side-combined (query, id) sum. No raw
    corpus vector is touched after the (offline) encode.

    Returns (topk, routed) — routed exposed for tests/diagnostics.
    Deviation from FAISS, documented: codes are fitted on raw vectors,
    not per-partition residuals, keeping every trajectory
    oracle-replayable; recall at equal m suffers slightly, the plan
    shape is identical.
    """
    from pyspark.sql import Window

    q = queries.select(
        query_id_col,
        F.col(query_vec_col),
        F.transform(F.col(query_vec_col), lambda x: x.cast("double")).alias(
            "_qv"
        ),
    )
    cand_cents = q.crossJoin(
        F.broadcast(coarse_cents.select(F.col(part_col), "centroid"))
    )
    d = squared_l2(F.col("_qv"), F.col("centroid"))
    w = Window.partitionBy(query_id_col).orderBy("_d", part_col)
    routed = (
        cand_cents.select(query_id_col, F.col(part_col), d.alias("_d"))
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= n_probe)
        .select(query_id_col, part_col)
    )
    cand = routed.join(
        parted.select(F.col(id_col), part_col), part_col
    ).select(query_id_col, id_col)
    dtab = _adc_distance_table(
        queries, codebooks, m, query_id_col, query_vec_col, round_dp
    )
    summed = (
        _long_codes(codes, m, id_col)
        .join(cand, id_col)
        .join(F.broadcast(dtab), [query_id_col, "subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_d"), round_dp).alias("dist"))
    )
    return _rank_topk(summed, k_top, id_col, query_id_col), routed
