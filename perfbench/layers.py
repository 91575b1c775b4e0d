"""Parse-core and UDF-boundary layers, measured in the driver process over a
seeded sample of a workload's turns, plus the no-Spark multiprocessing
control.

After a warm-up pass, each of ``ROUNDS`` rounds makes three passes over the
same pandas batches, each with a cold token cache:

1. bare: ``_parse_partition`` (the ``mapInPandas`` body) over the batches,
   then ``pa.Table.from_pandas`` to the ``NODE_SCHEMA`` Arrow schema -- the
   single-process parse-and-build time;
2. loop: the bare ``parse_turn`` loop over the same batches;
3. traced: the three calls ``parse_turn`` makes -- ``decode_payload``,
   ``elements_to_nodes`` and ``run_pipeline`` with every transform of
   ``basic_pipeline_transforms()`` wrapped in a span -- one span each;

then counts tokens of the output node texts with a cold cache.  Each metric
is the median over rounds.  ``core.sort_s`` is the self time of the
``run_pipeline`` spans (the sort before every step), ``udf.row_build_s`` is
``_parse_partition`` time minus the loop time, and the layer sum is compared
with the bare time.
"""

from __future__ import annotations

import statistics
import time

from harness import digest, frame_rows

ARROW_BATCH = 512  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
ROUNDS = 3
STEP = [f"core.step.p{i:02d}" for i in range(1, 13)]
PARSE_COLS = ["conv_id", "turn_idx", "node_idx", "text", "tokens"]


def _batches(pdf):
    cols = ["conv_id", "turn_idx", "text", "tool"]
    return [
        pdf[cols].iloc[i : i + ARROW_BATCH].reset_index(drop=True)
        for i in range(0, len(pdf), ARROW_BATCH)
    ]


def _cold_tokens():
    from open_parse_spark.core import tokens

    tokens._num_tokens_cached.cache_clear()


def _leaf(tracer, name, fn):
    """``fn`` (one positional argument) wrapped in a span that has no
    children.  The wrapper does the least work it can between the two clock
    reads and after them: this runs 14 times per turn."""
    spans, stack, clock = tracer.spans, tracer._stack, time.perf_counter

    def run(arg):
        t0 = clock()
        res = fn(arg)
        # a tuple of atoms, which the cyclic GC stops tracking: tens of
        # thousands of tracked lists made every collection slower
        spans.append((name, t0, clock(), stack[-1]))
        return res

    return run


def _untimed_pass(batches) -> tuple[dict, tuple]:
    """The decomposition of ``parse_turn`` again, untraced: nodes into and
    out of each pipeline step, and the digest of the output rows."""
    from open_parse_spark.core.payload import decode_payload, elements_to_nodes
    from open_parse_spark.core.transforms import basic_pipeline_transforms, run_pipeline

    counts = {name: [0, 0] for name in STEP}

    def counted(name, fn):
        c = counts[name]

        def run(nodes):
            res = fn(nodes)
            c[0] += len(nodes)
            c[1] += len(res)
            return res

        return run

    steps = [counted(n, t) for n, t in zip(STEP, basic_pipeline_transforms())]
    rows = []
    for b in batches:
        for conv, turn, text, tool in zip(
            b["conv_id"].values, b["turn_idx"].values, b["text"].values, b["tool"].values
        ):
            nodes = run_pipeline(elements_to_nodes(decode_payload(text, tool)), steps)
            rows.extend((conv, int(turn), k, n.text, n.tokens) for k, n in enumerate(nodes))
    return counts, digest(rows)


def _round(tracer, batches, arrow_schema, loop_first: bool) -> tuple[dict, list]:
    import pyarrow as pa

    from open_parse_spark.core.parse import parse_turn
    from open_parse_spark.core.payload import decode_payload, elements_to_nodes
    from open_parse_spark.core.tokens import num_tokens
    from open_parse_spark.core.transforms import (
        basic_pipeline_transforms,
        run_pipeline,
    )
    from open_parse_spark.spark.pipeline import _parse_partition

    out: dict = {}
    first_span = len(tracer.spans)

    def bare():
        # 1. bare single-process parse-and-build
        _cold_tokens()
        with tracer.span("udf.bare"):
            t0 = time.perf_counter()
            with tracer.span("udf.partition"):
                frames = list(_parse_partition(iter(batches)))
            t1 = time.perf_counter()
            with tracer.span("udf.arrow"):
                for f in frames:
                    pa.Table.from_pandas(f, schema=arrow_schema, preserve_index=False)
            t2 = time.perf_counter()
        return frames, t1 - t0, t2 - t1

    def loop():
        # 2. the bare parse_turn loop over the same batches
        _cold_tokens()
        with tracer.span("udf.loop"):
            t0 = time.perf_counter()
            for b in batches:
                for text, tool in zip(b["text"].values, b["tool"].values):
                    parse_turn(text, tool)
            return time.perf_counter() - t0

    # the two passes swap order from round to round, so neither always runs
    # on the heap the other left behind
    if loop_first:
        loop_s = loop()
        frames, partition_s, arrow_s = bare()
    else:
        frames, partition_s, arrow_s = bare()
        loop_s = loop()

    # 3. traced decomposition of parse_turn
    steps = [_leaf(tracer, n, t) for n, t in zip(STEP, basic_pipeline_transforms())]
    decode = _leaf(tracer, "core.decode", lambda args: decode_payload(*args))
    wrap = _leaf(tracer, "core.wrap", elements_to_nodes)
    pipeline = tracer.wrap("core.pipeline", run_pipeline)
    n_elements = 0
    _cold_tokens()
    with tracer.span("core.traced"):
        t0 = time.perf_counter()
        for b in batches:
            for text, tool in zip(b["text"].values, b["tool"].values):
                elements = decode((text, tool))
                n_elements += len(elements)
                pipeline(wrap(elements), steps)
        traced_s = time.perf_counter() - t0

    # 4. token counting over the output node texts, cold cache
    texts = [t for f in frames for t in f["text"].tolist()]
    _cold_tokens()
    with tracer.span("core.tokens"):
        t0 = time.perf_counter()
        for t in texts:
            num_tokens(t)
        out["core.tokens_s"] = time.perf_counter() - t0

    tot = tracer.totals(since=first_span)
    step_sum = 0.0
    for name in STEP:
        s = tot.get(name, {}).get("total_s", 0.0)
        step_sum += s
        out[f"{name}_s"] = s
    out["core.decode_s"] = tot["core.decode"]["total_s"]
    out["core.wrap_s"] = tot["core.wrap"]["total_s"]
    out["core.sort_s"] = tot["core.pipeline"]["self_s"]
    out["core.elements"] = n_elements
    out["udf.parse_s"] = loop_s
    out["udf.row_build_s"] = partition_s - loop_s
    out["udf.arrow_s"] = arrow_s
    out["udf.rows_out"] = sum(len(f) for f in frames)
    out["udf.bare_s"] = partition_s + arrow_s
    layer_sum = (
        out["core.decode_s"] + out["core.wrap_s"] + step_sum + out["core.sort_s"]
        + out["udf.row_build_s"] + arrow_s
    )
    out["udf.layer_sum_ratio"] = layer_sum / out["udf.bare_s"]
    # tracing overhead: traced wall minus the untraced wall of the same work
    out["trace.overhead_s"] = traced_s - loop_s
    return out, frames


def measure(tracer, pdf) -> dict:
    """Layer metrics over the turns in ``pdf`` (conv_id, turn_idx, text,
    tool); medians over ``ROUNDS`` rounds."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from open_parse_spark.core.parse import parse_turn
    from open_parse_spark.spark.pipeline import NODE_SCHEMA

    batches = _batches(pdf)
    arrow_schema = to_arrow_schema(NODE_SCHEMA)
    # warm-up pass: first-call costs in this process stay out of the rounds
    for b in batches:
        for text, tool in zip(b["text"].values, b["tool"].values):
            parse_turn(text, tool)
    rounds = []
    for i in range(ROUNDS):
        with tracer.span("layers.round"):
            metrics, frames = _round(tracer, batches, arrow_schema, loop_first=i % 2 == 1)
        rounds.append(metrics)
    out = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
    counts, decomposed = _untimed_pass(batches)
    for name, (nodes_in, nodes_out) in counts.items():
        out[f"{name}.nodes_in"], out[f"{name}.nodes_out"] = nodes_in, nodes_out
    # the decomposition of parse_turn must produce what the UDF body does
    match = decomposed == digest(r for f in frames for r in frame_rows(f, PARSE_COLS))
    out["core.turns"] = len(pdf)
    out["_sample_match"] = match
    return out


# --------------------------------------------------------------------------
# pool tasks: reference digest and no-Spark control, one part file per task
# --------------------------------------------------------------------------


def oracle_task(path: str):
    """Single-threaded reference path over one part file: ``run_turns_oracle``
    rows -> (rows, hash sum, turns)."""
    import pandas as pd

    from open_parse_spark.spark.pipeline import run_turns_oracle

    pdf = pd.read_parquet(path, columns=["conv_id", "turn_idx", "text", "tool"])
    n, h = digest(frame_rows(run_turns_oracle(pdf), PARSE_COLS))
    return n, h, len(pdf)


def control_task(path: str) -> int:
    """The bench.py control body: ``parse_turn_records`` per turn, no Spark."""
    import pandas as pd

    from open_parse_spark.core.parse import parse_turn_records

    pdf = pd.read_parquet(path, columns=["text", "tool"])
    n = 0
    for text, tool in zip(pdf["text"].values, pdf["tool"].values):
        n += len(parse_turn_records(text, tool))
    return n
