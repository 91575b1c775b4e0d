"""curation_suite: the twelve registry queries ROADMAP names, on
sf0.01-sized ``documents`` and ``embeddings`` tables.

The tables are fixed (see ``inputs``); the seed permutes the query order.
The timed part is one pass over the twelve queries, the first in a fresh
session, so each query pays its planning, code generation and JIT.  That
pass alone takes longer than a run's ``--seconds``; a warm pass would need
a cold one before it, which the run budget has no room for (README.md).
Each query is built, run and its result collected to the driver
(``toPandas``) inside its wall; the collected results are then compared,
untimed, with each query's ``oracle_sql()`` result in DuckDB, normalised as
``tools/check_oracles.py`` does.  Collecting instead of writing to a noop
sink lets the timed pass itself be checked.
"""

from __future__ import annotations

import random
import time

import harness as H
import inputs

QUERIES = (
    "training_pipeline_full",
    "quality_repetition",
    "tfidf_top_terms",
    "dedup_minhash",
    "neardup_jaccard",
    "decontaminate_bloom",
    "ann_ivf",
    "ann_pq",
    "url_domains",
    "mix_corpus",
    "pii_scrub",
    "dedup_fingerprint",
)
SAMPLE_TURNS = 800


def normalize(pdf):
    """tools/check_oracles.py's normalisation: sorted columns, object
    columns as strings, rows sorted by every column."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)


def _expected(data) -> dict:
    """Normalised DuckDB oracle result per query, cached on disk by query,
    SQL text, data set and DuckDB version."""
    import duckdb
    import pandas as pd

    from open_parse_spark.plans.queries import REGISTRY

    out, con = {}, None
    for name in QUERIES:
        sql = REGISTRY[name][1]
        path = inputs.oracle_cache(name, sql, data)
        if not path.exists():
            if con is None:
                con = duckdb.connect()
                for t in ("documents", "embeddings"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / t}.parquet'")
            frame = normalize(con.execute(sql).df())
            path.parent.mkdir(parents=True, exist_ok=True)
            tmp = path.with_suffix(".tmp")
            frame.to_parquet(tmp, index=False)
            tmp.rename(path)
        out[name] = pd.read_parquet(path)
    if con is not None:
        con.close()
    return out


def _compare(got, want) -> str | None:
    """None when equal, else what differs."""
    import pandas as pd

    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    except AssertionError as exc:
        return f"values differ: {str(exc)[:300]}"
    return None


def run(r) -> None:
    from open_parse_spark.plans.queries import REGISTRY

    order = list(QUERIES)
    random.Random(r.seed).shuffle(order)

    data = inputs.curation_tables(tiny=r.tiny)
    expected = _expected(data)
    if r.corrupt:
        victim = expected[order[0]]
        expected[order[0]] = victim.iloc[:-1] if len(victim) else victim.assign(_extra=1)

    spark = r.setup()
    stats = H.SparkStats(spark) if r.trace else None
    mark = stats.mark() if stats else None
    walls: dict[str, float] = {}
    results: dict[str, object] = {}
    q_jobs: dict[str, int] = {}
    q_exchanges: dict[str, int] = {}
    with r.tracer.span("timed"), H.Meter(r.jvm, r.cores) as m:
        for name in order:
            q_mark = stats.mark() if stats else None
            with r.tracer.span(f"q.{name}"):
                t0 = time.perf_counter()
                try:
                    df = REGISTRY[name][0](spark, str(data))
                    results[name] = df.toPandas()
                except Exception as exc:  # counted, and the pass goes on
                    r.fail(f"{name} raised {type(exc).__name__}: {exc}")
                walls[name] = time.perf_counter() - t0
            r.ops(1, failed=name not in results)
            # the status-API calls sit outside the walls
            if stats and name in results:
                q_jobs[name] = stats.since(q_mark)["jobs"]
                q_exchanges[name] = H.count_exchanges(df)

    # correctness, untimed
    for name, got in results.items():
        problem = _compare(normalize(got), expected[name])
        r.check(f"{name} vs oracle_sql", problem is None, problem or "")

    suite = sum(walls.values())
    r.e2e(latency_s=suite, cpu_s=m.cpu_s, peak_rss_mb=m.rss_mb, meter=m)
    r.named("suite_wall_s", suite, "s",
            f"sum of the {len(QUERIES)} query walls, first pass in a fresh session")
    for name in QUERIES:
        r.named(f"q.{name}.wall_s", walls.get(name, 0.0), "s")

    if r.trace:
        r.layers.update({f"spark.{k}": v for k, v in stats.since(mark).items()})
        for name in QUERIES:
            r.layers[f"q.{name}.jobs"] = q_jobs.get(name, 0)
            r.layers[f"q.{name}.exchanges"] = q_exchanges.get(name, 0)
        docs = spark.read.parquet(str(data / "documents.parquet"))
        r.layers["scan.partitions"] = docs.rdd.getNumPartitions()
        pdf = docs.select("doc_id", "text").toPandas()
        pdf = pdf.sample(n=min(SAMPLE_TURNS, len(pdf)), random_state=r.seed)
        turns = pdf.assign(
            conv_id="doc-" + pdf["doc_id"].astype(str), turn_idx=0, tool=""
        )
        r.measure_layers(turns)
