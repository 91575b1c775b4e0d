"""parse_batch: seeded skewed transcripts in many part files through
``spark.pipeline.parse_transcripts`` (``auto``, full ``NODE_SCHEMA``) to a
noop sink, as a closed loop of whole-corpus jobs.

Correctness: an order-independent digest of (conv_id, turn_idx, node_idx,
text, tokens) over the Spark output must equal the digest of
``run_turns_oracle`` (the single-threaded reference path) over the same
files, computed once per invocation and not timed.
"""

from __future__ import annotations

import time

import harness as H
import inputs
import layers

SAMPLE_TURNS = 800
MIN_JOBS = 4  # the reported wall is a median


def _turns_frame(parts):
    import pandas as pd

    return pd.concat(
        [pd.read_parquet(p, columns=["conv_id", "turn_idx", "text", "tool"]) for p in parts],
        ignore_index=True,
    )


def run(r) -> None:
    from open_parse_spark.spark.pipeline import parse_transcripts, restore_split_conf

    with H.pool(r.cores) as pool:
        corpus = inputs.parse_corpus(pool, r.seed, tiny=r.tiny)
        parts = sorted(str(p) for p in corpus.glob("part-*.parquet"))
        with r.tracer.span("check.reference"):
            ref = [0, 0, 0]  # rows, hash sum, turns
            for n, h, t in pool.map(layers.oracle_task, parts):
                ref = [ref[0] + n, (ref[1] + h) & H.MASK64, ref[2] + t]
        turns = ref[2]
        if r.trace:
            with r.tracer.span("control"):
                t0 = time.perf_counter()
                pool.map(layers.control_task, parts)
                control_tps = turns / (time.perf_counter() - t0)
    if r.corrupt:
        ref[1] ^= 1

    spark = r.setup()
    tr = spark.read.parquet(str(corpus))

    # correctness job, untimed: the digest is taken in the Python workers
    with r.tracer.span("check.spark"):
        got, errors = H.spark_digest(parse_transcripts(tr), layers.PARSE_COLS, "parse_error")
        restore_split_conf(spark)
    r.check("parse digest vs run_turns_oracle", got == (ref[0], ref[1]),
            f"spark {got} vs reference {(ref[0], ref[1])}")
    r.count(turns, errors)

    # job walls keep falling over the first jobs of a session (JIT, worker
    # caches); the check job and one more untimed job take that slope
    with r.tracer.span("warmup"):
        parse_transcripts(tr).write.format("noop").mode("overwrite").save()
        restore_split_conf(spark)

    stats = H.SparkStats(spark) if r.trace else None
    mark = stats.mark() if stats else None
    walls = []
    with r.tracer.span("timed"), H.Meter(r.jvm, r.cores) as m:
        t_end = time.perf_counter() + r.seconds
        while len(walls) < MIN_JOBS or time.perf_counter() < t_end:
            with r.tracer.span("job.parse_transcripts"):
                t0 = time.perf_counter()
                parse_transcripts(tr).write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                restore_split_conf(spark)
    r.ops(len(walls))

    wall = H.median(walls)
    tps = turns / wall
    r.e2e(latency_s=wall, cpu_s=m.cpu_s / len(walls), peak_rss_mb=m.rss_mb, meter=m)
    r.named("turns_per_s", tps, "turns/s",
            f"{turns} turns / {wall:.4f} s median job wall, local[{r.cores}]; job walls "
            + " ".join(f"{w:.3f}" for w in walls))

    if r.trace:
        r.layers.update({f"spark.{k}": v for k, v in stats.since(mark).items()})
        r.layers["scan.partitions"] = parse_transcripts(tr).rdd.getNumPartitions()
        restore_split_conf(spark)
        r.layers["control.turns_per_s"] = control_tps
        r.layers["spark_vs_control"] = tps / control_tps
        pdf = _turns_frame(parts)
        sample = pdf.sample(n=min(SAMPLE_TURNS, len(pdf)), random_state=r.seed)
        r.measure_layers(sample)
