"""Independent differential for integer BM25 top-k.

The DuckDB oracle replays the same relational plan; this replays the
operator with a dict-based imperative model (tf/df/avgdl, the exact-rational
tf normalization, the log-free idf, the (score desc, doc_id) ranking) on a
crafted corpus where the mined two-term queries and the ranking are known to
exercise: multi-term matches, tf > 1, length normalization (same tf, longer
doc scores lower), and per-query tie-breaks.
"""

import re
from collections import Counter

from open_parse_spark.operators.search import (
    IDF_CAP_PPM,
    N_QUERY_TERMS,
    PPM,
    TERMS_PER_QUERY,
    bm25_topk,
)

WORD_RE = re.compile(r"[A-Za-z0-9]+")


def _replay(rows, k=5):
    ws = {d: [w.lower() for w in WORD_RE.findall(t or "")] for d, t in rows}
    dl = {d: len(w) for d, w in ws.items()}
    tf = {d: Counter(w) for d, w in ws.items()}
    df = Counter()
    for d in ws:
        for term in set(ws[d]):
            df[term] += 1
    n_docs = len(ws)
    total_words = sum(dl.values())
    avgdl = total_words // n_docs

    mined = sorted(df.items(), key=lambda kv: (abs(2 * kv[1] - n_docs), kv[0]))
    mined = mined[:N_QUERY_TERMS]
    queries = {}
    for i, (term, dfv) in enumerate(mined):
        qid = i // TERMS_PER_QUERY
        idf = min(((n_docs - dfv) * PPM) // (dfv + 1), IDF_CAP_PPM)
        queries.setdefault(qid, []).append((term, idf))

    out = []
    for qid, terms in queries.items():
        scores = {}
        for d in ws:
            s = 0
            hit = False
            for term, idf in terms:
                t = tf[d].get(term, 0)
                if t:
                    hit = True
                    tfn_ppm = (PPM * 44 * avgdl * t) // (
                        20 * avgdl * t + 6 * avgdl + 18 * dl[d]
                    )
                    s += (idf * tfn_ppm) // PPM
            if hit:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        tname = " ".join(sorted(t for t, _ in terms))
        for r, (d, s) in enumerate(ranked, start=1):
            out.append((qid, tname, d, s, r))
    return sorted(out)


CRAFTED = [
    # 'alpha'/'beta' in ~half the docs -> mined; 'the' everywhere -> idf ~0
    (0, "the alpha system handles beta requests quickly and alpha wins"),
    (1, "the alpha protocol only"),
    (2, "the beta release notes mention beta twice for the beta team"),
    (3, "the gamma pipeline does not mention those words at all"),
    (4, "the alpha and beta mix " + "padding words repeat here " * 20),  # long doc
    (5, "the delta gamma epsilon zeta"),
    (6, "alpha alpha alpha"),  # tf saturation
    (7, "the omega entry"),
    (8, ""),
    (9, "beta"),
]


def test_crafted_differential(spark):
    df = spark.createDataFrame(CRAFTED, "doc_id long, text string")
    got = sorted(
        (r["query_id"], r["terms"], r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk(df).collect()
    )
    want = _replay(CRAFTED)
    assert got == want
    # the crafted corpus genuinely exercised the interesting branches
    by_query_docs = {}
    for qid, terms, d, s, r in got:
        by_query_docs.setdefault(terms, []).append((r, d, s))
    assert any(len(v) >= 3 for v in by_query_docs.values())  # real rankings
    all_scores = [s for _, _, _, s, _ in got]
    assert len(set(all_scores)) > 1  # not degenerate


def test_length_normalization_orders_same_tf(spark):
    """Two docs with identical tf for the query term: the shorter ranks
    higher (b > 0)."""
    rows = [
        (0, "needle plus few words here today fine."),
        (1, "needle plus " + "lots of extra filler words " * 30),
        (2, "unrelated content entirely different tokens"),
        (3, "another document with other words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(df, k=10).collect()
    needle_rows = [r for r in got if "needle" in r["terms"].split()]
    if needle_rows:  # 'needle' mined into a query (df=2 of 4 -> mid_dist 0)
        ranks = {r["doc_id"]: r["rank"] for r in needle_rows}
        assert 0 in ranks and 1 in ranks and ranks[0] < ranks[1]


def test_deterministic_across_runs(spark):
    df = spark.createDataFrame(CRAFTED, "doc_id long, text string")
    a = sorted(map(tuple, bm25_topk(df).collect()))
    b = sorted(map(tuple, bm25_topk(df).collect()))
    assert a == b


def test_hybrid_rrf_fusion_consistency(spark):
    """The fused output must be arithmetically consistent with its own leg
    ranks (rrf_ppm = sum of 1e6//(60+rank) over present legs, 0 = absent)
    and with the standalone BM25 leg."""
    from open_parse_spark.operators.search import RRF_K, hybrid_rrf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = hybrid_rrf(docs, emb).collect()
    assert got, "expected fused results"

    per_query = {}
    for r in got:
        per_query.setdefault(r["query_id"], []).append(r)
        expected = (1_000_000 // (RRF_K + r["rank_lex"]) if r["rank_lex"] else 0) + (
            1_000_000 // (RRF_K + r["rank_vec"]) if r["rank_vec"] else 0
        )
        assert r["rrf_ppm"] == expected, r
        assert r["rank_lex"] or r["rank_vec"], "doc in neither leg survived"
    for qid, rows in per_query.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        # ordering follows (rrf desc, doc_id asc)
        key = [(-r["rrf_ppm"], r["doc_id"]) for r in rows]
        assert key == sorted(key)

    # the lexical ranks embedded in the fusion agree with the standalone leg
    lex = {
        (r["query_id"], r["doc_id"]): r["rank"]
        for r in bm25_topk(docs, k=20).collect()
    }
    for r in got:
        if r["rank_lex"]:
            assert lex[(r["query_id"], r["doc_id"])] == r["rank_lex"]


def _replay_user_queries(rows, qstrings, k=5):
    """Same imperative model, but with user query strings instead of the
    df-midpoint mining (distinct tokens per query, query_id = position)."""
    ws = {d: [w.lower() for w in WORD_RE.findall(t or "")] for d, t in rows}
    dl = {d: len(w) for d, w in ws.items()}
    tf = {d: Counter(w) for d, w in ws.items()}
    df = Counter()
    for d in ws:
        for term in set(ws[d]):
            df[term] += 1
    n_docs = len(ws)
    avgdl = sum(dl.values()) // n_docs

    out = []
    for qid, q in enumerate(qstrings):
        terms = sorted({w.lower() for w in WORD_RE.findall(q or "")})
        scores = {}
        for d in ws:
            s = 0
            hit = False
            for term in terms:
                t = tf[d].get(term, 0)
                if t:
                    hit = True
                    dfv = df[term]
                    idf = min(((n_docs - dfv) * PPM) // (dfv + 1), IDF_CAP_PPM)
                    tfn_ppm = (PPM * 44 * avgdl * t) // (
                        20 * avgdl * t + 6 * avgdl + 18 * dl[d]
                    )
                    s += (idf * tfn_ppm) // PPM
            if hit:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for r, (d, s) in enumerate(ranked, start=1):
            out.append((qid, " ".join(terms), d, s, r))
    return sorted(out)


def test_user_supplied_queries_differential(spark):
    """bm25_topk(queries=[...]) bypasses mining: crafted queries (multi-term,
    repeated token, OOV token, fully-OOV query) verified against the
    dict-replay model (r4 VERDICT ask #6)."""
    qs = [
        "alpha beta",            # both mid-df
        "beta beta the",         # repeated token collapses; stopword-ish term
        "alpha zzznotincorpus",  # one OOV term contributes nothing
        "zzznotincorpus qqq",    # fully OOV -> no rows for this query_id
        "GAMMA",                 # case folding
    ]
    df = spark.createDataFrame(CRAFTED, "doc_id long, text string")
    got = sorted(
        (r["query_id"], r["terms"], r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk(df, queries=qs).collect()
    )
    want = _replay_user_queries(CRAFTED, qs)
    assert got == want
    qids = {g[0] for g in got}
    assert 3 not in qids          # fully-OOV query matched nothing
    assert {0, 1, 2, 4} <= qids   # every other query returned results
    # DataFrame form is equivalent to the list form
    qdf = spark.createDataFrame(list(enumerate(qs)), "query_id long, text string")
    got_df = sorted(
        (r["query_id"], r["terms"], r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk(df, queries=qdf).collect()
    )
    assert got_df == got


def test_idf_cap_applies_on_near_unique_vocabulary(spark):
    """r4 ADVICE: a corpus of (nearly) unique terms mines df=1 terms whose
    uncapped idf_ppm ~ n_docs * 5e5 grows without bound; the cap keeps the
    score arithmetic int64-safe.  2500 docs -> uncapped idf would be
    ~1.25e9 > IDF_CAP_PPM, so this corpus genuinely exercises the clamp
    (the replay model clamps identically)."""
    rows = [(i, f"uniqterm{i} filler{i}") for i in range(2500)]
    n_docs = len(rows)
    assert ((n_docs - 1) * PPM) // 2 > IDF_CAP_PPM  # clamp actually bites
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["query_id"], r["terms"], r["doc_id"], r["score"], r["rank"])
        for r in bm25_topk(df).collect()
    )
    want = _replay(rows)
    assert got == want
    assert got  # mined queries matched their own docs


def test_hybrid_ann_legs_recall_and_plan(spark):
    """leg='lsh'|'ivf'|'pq' swaps the vector leg onto the ANN families (r4
    VERDICT ask #5): same output contract, fusion stays within a recall
    bound of the exact leg at sf0.01, and the plan probes buckets instead
    of cross-joining the corpus."""
    from open_parse_spark.operators.search import hybrid_rrf

    SF = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["doc_id"])
        return out

    exact = topsets(hybrid_rrf(docs, emb))
    assert exact and all(len(v) == 5 for v in exact.values())

    # measured at sf0.01: lsh 0.88, ivf 1.00, pq 0.44 (PQ's documented
    # worst case — the synthetic embeddings are clusterless, cf. the
    # ann_recall_pq oracle's recall@5=72 on raw ANN) — bounds leave slack
    # for tie noise but catch a broken leg (recall ~0 on mis-wiring)
    bounds = {"lsh": 0.7, "ivf": 0.9, "pq": 0.3}
    for leg, bound in bounds.items():
        fused = hybrid_rrf(docs, emb, leg=leg)
        got = topsets(fused)
        assert got.keys() == exact.keys(), leg
        assert all(len(v) == 5 for v in got.values()), leg
        recalls = [len(exact[q] & got[q]) / len(exact[q]) for q in exact]
        mean = sum(recalls) / len(recalls)
        assert mean >= bound, (leg, mean, sorted(recalls))
        # fusion arithmetic holds for the ANN legs too
        for r in fused.collect():
            want = (
                1_000_000 // (60 + r["rank_lex"]) if r["rank_lex"] else 0
            ) + (1_000_000 // (60 + r["rank_vec"]) if r["rank_vec"] else 0)
            assert r["rrf_ppm"] == want, (leg, r)
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, leg
        # index-shaped scoring, not a pairwise scan: lsh/ivf candidates come
        # from an equi-join on the index key; pq (since the r6 rewrite)
        # fuses encode + ADC table lookup into one vectorized Arrow pass
        # over a single corpus scan (codes never materialize as a column)
        key = {
            "lsh": "bucket",
            "ivf": "centroid_id",
            "pq": "ArrowEvalPython",
        }[leg]
        assert key in plan, (leg, "no index-shaped scoring in plan")

    import pytest

    with pytest.raises(ValueError):
        hybrid_rrf(docs, emb, leg="bogus").collect()


def test_hybrid_accepts_user_queries(spark):
    """User query strings drive BOTH hybrid legs: the lexical leg ranks by
    the user terms and the vector leg seeds off each user query's lexical
    top-1."""
    from open_parse_spark.operators.search import bm25_topk, hybrid_rrf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = ["fast hash join", "slow table scan"]
    fused = hybrid_rrf(docs, emb, queries=qs).collect()
    assert {r["query_id"] for r in fused} == {0, 1}
    lex = {
        (r["query_id"], r["doc_id"]): r["rank"]
        for r in bm25_topk(docs, k=20, queries=qs).collect()
    }
    for r in fused:
        if r["rank_lex"]:
            assert lex[(r["query_id"], r["doc_id"])] == r["rank_lex"]


def test_hybrid_ann_legs_survive_zero_norm_corpus_rows(spark):
    """A zero-norm corpus embedding (empty doc, hostile row) must not reach
    the cosine in the ANN legs — under ANSI that is x/0.0 DIVIDE_BY_ZERO and
    the whole job dies.  The exact leg already filters both sides; the ANN
    legs must too (review finding).  The IVF leg scores fixed-point vectors,
    so an all-1e-7 row (nonzero float norm, every component quantizing to 0)
    must not reach its cosine either."""
    from pyspark.sql import functions as F

    from open_parse_spark.operators.search import hybrid_rrf

    SF = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    def const_row(vec_id, x):
        return spark.createDataFrame([(vec_id,)], "vec_id long").select(
            "vec_id",
            F.array(*[F.lit(x).cast("float") for _ in range(dim)]).alias(
                "embedding"
            ),
            F.lit(0).cast("int").alias("label"),
        )

    poisoned = emb.unionByName(const_row(999999, 0.0)).unionByName(
        const_row(999998, 1e-7)
    )
    for leg in ("lsh", "ivf", "pq"):
        out = hybrid_rrf(docs, poisoned, leg=leg).collect()
        assert out, leg
        assert all(r["doc_id"] != 999999 for r in out), leg
        if leg == "ivf":
            assert all(r["doc_id"] != 999998 for r in out), leg
