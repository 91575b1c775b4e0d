"""Fixed-point IVF (operators/similarity.py quantized path): the integer
quantizer removes the float-accumulation-order objection, so its output must
be exactly stable across partitionings, agree with a driver-side python
replay of Lloyd, and track exact float cosine top-k closely (VERDICT r2
item 5).  The sf0.01 DuckDB oracle (`ann_ivf`) covers engine parity; these
pin the algorithmic invariants."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_parse_spark.operators.similarity import (
    QUANT_SCALE,
    brute_force_topk,
    int_sqdist,
    ivf_topk_quantized,
    kmeans_centroids_quantized,
    quantize_vec,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype(np.float32).tolist()) for i in range(120)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


def test_quantize_rounding_rule(spark):
    df = spark.createDataFrame(
        [(0, [0.1234567, -0.9999996, 1.5e-7, 0.0])],
        "vec_id long, embedding array<float>",
    )
    (vq,) = df.select(quantize_vec(F.col("embedding")).alias("vq")).first()
    # floor(x*1e6 + 0.5) of the float32-widened values
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    want = [math.floor(f32(x) * 1e6 + 0.5) for x in [0.1234567, -0.9999996, 1.5e-7, 0.0]]
    assert vq == want


def test_centroids_partitioning_invariant(emb):
    a = kmeans_centroids_quantized(emb, k=4, iters=2).collect()
    b = kmeans_centroids_quantized(emb.repartition(13), k=4, iters=2).collect()
    assert sorted((r["centroid_id"], tuple(r["cq"])) for r in a) == sorted(
        (r["centroid_id"], tuple(r["cq"])) for r in b
    )


def test_centroids_match_python_lloyd_replay(spark, emb):
    """Driver-side exact replay: same init order (md5-long), same integer
    argmin with lowest-id ties, same floor(sum/count+0.5) update."""
    import hashlib

    rows = emb.select("vec_id", quantize_vec(F.col("embedding")).alias("vq")).collect()
    vecs = {r["vec_id"]: np.array(r["vq"], dtype=np.int64) for r in rows}

    def md5_long(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    k = 4
    init_ids = sorted(vecs, key=md5_long)[:k]
    cents = {cid + 1: vecs[i].copy() for cid, i in enumerate(init_ids)}
    for _ in range(2):
        groups = {}
        for vid, v in vecs.items():
            best = min(
                cents, key=lambda cid: (int(((v - cents[cid]) ** 2).sum()), cid)
            )
            groups.setdefault(best, []).append(v)
        cents = {
            cid: np.array(
                [math.floor(s / len(vs) + 0.5) for s in np.sum(vs, axis=0)],
                dtype=np.int64,
            )
            for cid, vs in groups.items()
        }
    got = {
        r["centroid_id"]: tuple(r["cq"])
        for r in kmeans_centroids_quantized(emb, k=k, iters=2).collect()
    }
    assert got == {cid: tuple(c) for cid, c in cents.items()}


def test_quantized_topk_close_to_float_path(emb):
    """Quantization at 1e-6 must not change which neighbors rank (float
    corpus values are O(1); rank flips would need sims within ~1e-5).  The
    reference is exact float cosine (``brute_force_topk``); IVF with all
    four buckets probed searches the whole corpus, so only quantization can
    make the two differ.  On this corpus they already differ at scale 30."""
    q = emb.where(F.col("vec_id") < 5)
    fl = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(emb, q, k=3).collect()
    }
    qz = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk_quantized(emb, q, k=3, n_centroids=4, n_probe=4).collect()
    }
    assert qz == fl


def test_int_sqdist_exact(spark):
    df = spark.createDataFrame(
        [([1, -2, 3], [4, 0, -1])], "a array<long>, b array<long>"
    )
    assert df.select(int_sqdist(F.col("a"), F.col("b")).alias("d")).first()["d"] == (
        9 + 4 + 16
    )


def test_empty_corpus_quantized(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert kmeans_centroids_quantized(empty, k=4).count() == 0
    assert ivf_topk_quantized(empty, empty, k=3).count() == 0


def test_assign_large_magnitude_exact_int_fallback():
    """Beyond the dgemm-exactness bound |q| <= sqrt(2^53/(3*sub)) the float
    path ROUNDS: for this crafted dim=1 triple the float64 argmin picks
    centroid 1 while the exact integer distance says centroid 2 (v == c2,
    distance 0).  The kernel must detect the magnitude and take the exact
    int64 path (ADVICE r3: the old '|x| <= 67 implies partial sums < 2^53'
    claim was wrong for dim >= 3)."""
    from open_parse_spark.operators.similarity import _books, _nearest_codes

    v, c1, c2 = 149999980, 149999979, 149999980
    # sanity: the float plan really does flip on this triple
    mat = np.array([[c1], [c2]], dtype=np.float64)
    sq = (mat * mat).sum(axis=1)
    d = sq[None, :] - 2.0 * (np.array([[v]], dtype=np.float64) @ mat.T)
    assert int(d.argmin(axis=1)[0]) == 0, "search premise broke"

    one = _books([(1, 1, [c1]), (1, 2, [c2])], 1)
    assert _nearest_codes(np.array([[v]], dtype=np.int64), one).tolist() == [[2]]

    # two subspaces, only subspace 2 beyond the float64 bound: PQ codes run
    # through the same kernel, so each subspace must take its exact answer
    two = _books(
        [(1, 1, [5]), (1, 2, [-3]), (2, 1, [c1]), (2, 2, [c2])], 2
    )
    m = np.array([[4, v], [-2, c1]], dtype=np.int64)
    assert _nearest_codes(m, two).tolist() == [[1, 2], [2, 1]]

    # in-bound vectors still take the fast path and agree with brute force;
    # keep magnitudes inside sqrt(2^53/(3*4)) ~ 27.4e6
    vecs = np.random.RandomState(3).randint(-27_000_000, 27_000_000, (20, 4))
    cents = np.random.RandomState(4).randint(-27_000_000, 27_000_000, (3, 4))
    books = _books(
        [(1, j, [int(x) for x in row]) for j, row in enumerate(cents, start=1)], 1
    )
    got = _nearest_codes(vecs.astype(np.int64), books)[:, 0]
    for row, code in zip(vecs, got):
        dists = [
            (sum((int(a) - int(b)) ** 2 for a, b in zip(row, cq)), cid)
            for cid, cq in enumerate(cents, start=1)
        ]
        assert code == min(dists)[1]
