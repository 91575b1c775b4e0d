"""Product-quantization (PQ) ANN — the third approximate-search family next
to hyperplane-LSH and IVF (``operators/similarity.py``).

PQ splits each vector into ``n_sub`` contiguous subspaces, k-means-trains a
tiny per-subspace codebook, stores each corpus vector as ``n_sub`` small
codes, and scores queries by Asymmetric Distance Computation (ADC): the
query precomputes its exact distance to every codebook centroid, and a
corpus vector's approximate distance is the SUM of table lookups — no
full-dimension arithmetic per pair (Jegou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

Everything is exact fixed-point integer arithmetic: training and
nearest-code assignment are the quantizer core in
``operators/similarity.py`` (``_lloyd`` and ``_nearest_codes``), the same
core IVF runs with one subspace — quantize once, integer Lloyd with one
declared rounding per step, integer squared distances — so a SQL engine
replays the whole train/encode/score chain bit-for-bit.

Design notes (100 TB):

- The codebook is tiny and bounded (``n_sub * n_codes`` rows, like IVF's k
  centroids), so nearest-code assignment is MAP-ONLY (see ``_codes_udf``):
  per Lloyd iteration the only shuffle is the map-side-combined codebook
  update on (s, code) keys, and the updated codebook is the bounded driver
  read.
- ADC scoring fuses encode + table lookup in one Arrow pass: the query
  distance tables (|queries| x n_sub x n_codes ints — queries are the
  bounded broadcast side by design) are a numpy literal and each corpus
  vector emits its |queries| approximate distances directly.  One shuffle
  total in scoring (the per-query top-k window).
- The memory win at scale: a 64-dim float vector (256 B) becomes
  ``n_sub`` byte-sized codes + one shared codebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from open_parse_spark.operators.similarity import (
    QUANT_SCALE,
    _books,
    _dim_of,
    _lloyd,
    _nearest_codes,
    _quantized,
)


def pq_codebooks_quantized(
    embeddings: DataFrame,
    n_sub: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = QUANT_SCALE,
    dim: int = None,
) -> DataFrame:
    """Joint fixed-point Lloyd over every subspace at once (``_lloyd``).

    Init: per subspace, the ``n_codes`` vectors with the smallest md5(id)
    hash (the IVF init convention — identical ids across subspaces, slices
    differ).  Update: per-dim floor(sum/count + 0.5).  Returns
    (s, code, cq: array<bigint>).  ``dim`` skips the probe job when the
    caller already knows it.
    """
    import pandas as pd

    if dim is None:
        dim = _dim_of(embeddings, vec_col)
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    rows = _lloyd(
        _quantized(embeddings, id_col, vec_col, scale), n_sub, n_codes, iters, dim
    )
    # arrow-path local relation, as for the IVF centroids
    return embeddings.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=["s", "code", "cq"]),
        "s int, code long, cq array<bigint>",
    )


def pq_topk_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 4,
    n_codes: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = QUANT_SCALE,
    dim: int = None,
) -> DataFrame:
    """ADC top-k: returns (query_id, neighbor_id, rank, adist) where adist
    is the exact-integer sum of per-subspace squared distances from the
    query to the neighbor's code centroids (lower = closer); ties break on
    the lower neighbor id.  ``dim`` skips the probe jobs when known."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    if dim is None:
        dim = _dim_of(embeddings, vec_col)

    def _empty():
        # schema-stable empty result (empty corpus or empty query set)
        return queries.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0).cast("long").alias("rank"),
            F.lit(0).cast("long").alias("adist"),
        ).where(F.lit(False))

    if dim == 0 or n_sub <= 0:
        # empty corpus (dim probes to 0): nothing to train or score —
        # an empty result beats a divide-by-zero (empty partitions are
        # routine at scale)
        return _empty()
    qdim = _dim_of(queries, vec_col)
    if qdim != dim:
        # a silent mismatch would misalign the subspace slices and rank
        # garbage distances with no exception (review finding)
        raise ValueError(f"query dim {qdim} != corpus dim {dim}")
    sub = dim // n_sub
    rows = _lloyd(
        _quantized(embeddings, id_col, vec_col, scale), n_sub, n_codes, iters, dim
    )
    # queries are the bounded small side (the previous formulation broadcast
    # their |q| x n_sub x n_codes ADC tables); quantization stays in Spark
    # expressions so both sides share one rounding rule
    qrows = _quantized(queries, id_col, vec_col, scale).collect()
    if not qrows or not rows:
        return _empty()
    qids = [r["id"] for r in qrows]
    id_type = queries.schema[id_col].dataType  # output dtype must match the
    # id column exactly (a bare F.lit([0..9]) infers array<int> and came
    # out int32 — caught by the hostile-corpus schema parity test)
    qmat = np.array([r["vq"] for r in qrows], dtype=np.int64)  # (nq, dim)
    books = _books(rows, n_sub)
    # adist sums n_sub exact distances of (2*q)^2 per dim: the whole sum
    # must stay < 2^63, so guard with the full dim
    big = max([np.abs(qmat).max(initial=0)] + [np.abs(m).max() for _, m in books])
    if big > (2.0**63 / (4 * dim)) ** 0.5:
        raise ValueError(
            f"quantized magnitude {big} exceeds the exact-int64 bound for "
            f"dim {dim}; lower the quantization scale"
        )
    # qtab[s][code]: (nq,) exact int64 query->centroid distances, one row
    # per code id so the kernel's code ids index it directly
    qtab = []
    for s, (codes, mat) in enumerate(books):
        sl = qmat[:, s * sub : (s + 1) * sub]
        t = np.zeros((codes[-1] + 1, len(qids)), dtype=np.int64)
        t[codes] = ((mat[:, None, :] - sl[None, :, :]) ** 2).sum(axis=2)
        qtab.append(t)

    def _adists(vs):
        codes = _nearest_codes(np.stack(vs.values), books)  # (n, n_sub)
        return pd.Series(list(sum(t[codes[:, s]] for s, t in enumerate(qtab))))

    adists = F.pandas_udf(_adists, ArrayType(LongType()))
    scored = (
        _quantized(embeddings, id_col, vec_col, scale)
        .select(
            F.col("id").alias("neighbor_id"),
            F.posexplode(adists(F.col("vq"))).alias("qi", "adist"),
        )
        .select(
            F.element_at(F.lit(qids), F.col("qi") + 1)
            .cast(id_type)
            .alias("query_id"),
            "neighbor_id",
            "adist",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )
