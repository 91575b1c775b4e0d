"""Seeded benchmark inputs.

Everything is written before timing starts, into ``.perfbench/cache/<key>``
where the key hashes the full generation config and the seed, so a repeat
run with the same seed reuses the files and a changed config regenerates.

Transcripts come from ``open_parse_spark.data.synth.gen_transcripts`` (the
generator behind ``write_transcripts_parquet``), one part file per pool task
so generation uses every core.  Heavy (20x prose) conversations are
stratified, where the generator would draw their count at random, so input
cost does not swing with the number of heavy conversations a seed happens
to draw.  Exactly ``HEAVY_SHARE`` of the parse corpus's conversations are
heavy.  The parse corpus spreads them over its part files.  The stream puts
one in every k-th file, where k files land per trigger interval, so each of
its micro-batches gets one; a random spread made batch times swing with the
heavy count.

The curation tables copy the shape of the sf testdata ``documents`` and
``embeddings`` tables (30-word vocabulary, 10-100 word texts, five
languages, 5% near duplicates; 64-d unit vectors with ten weak clusters).
They do not depend on the seed: the curation seed only permutes query
order.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

from harness import WORK

CACHE = WORK / "cache"

HEAVY_SHARE = 0.02
# gen_transcripts seeds conversation c with seed * 1_000_003 + c, which must
# stay below 2**32, so it accepts fewer than 4295 seeds.  Each part file
# hashes (seed, part, heavy) into that range: two seeds then share about one
# of their 64 part streams, where consecutive ranges would overlap wholesale.
_SUB_SEEDS = 4290

# parse_batch corpus: 32 part files x 20 conversations x ~20 turns
PARSE = {
    "parts": 32,
    "convs_per_part": 20,
    "avg_turns": 20,
    "row_group_size": 256,
}
PARSE_TINY = dict(PARSE, parts=4, convs_per_part=5)
# stream_ingest: one file per scheduled landing, ten conversations of ~20 turns
STREAM = {"convs_per_file": 10, "avg_turns": 20, "row_group_size": 256}
STREAM_TURNS_PER_FILE = STREAM["convs_per_file"] * STREAM["avg_turns"]
# curation_suite tables, sf0.01 sizes
CURATION = {"docs": 500, "vectors": 500, "dim": 64, "data_seed": 0}
CURATION_TINY = dict(CURATION, docs=200, vectors=100)


def _key(kind: str, cfg: dict, seed) -> str:
    blob = json.dumps({"kind": kind, "cfg": cfg, "seed": seed}, sort_keys=True)
    return f"{kind}-{hashlib.sha1(blob.encode()).hexdigest()[:16]}"


def _cached(kind: str, cfg: dict, seed, build) -> Path:
    """Directory for (kind, cfg, seed), built by ``build(tmp_dir)`` once;
    a stamp file marks a finished build."""
    path = CACHE / _key(kind, cfg, seed)
    stamp = path / "_DONE"
    if not stamp.exists():
        shutil.rmtree(path, ignore_errors=True)
        tmp = path.with_name(path.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        (tmp / "_DONE").write_text(json.dumps({"cfg": cfg, "seed": seed}))
        tmp.rename(path)
    return path


def _part_seed(seed: int, part: int, heavy: bool) -> int:
    h = hashlib.sha1(f"{seed}:{part}:{int(heavy)}".encode()).digest()
    return int.from_bytes(h[:4], "little") % _SUB_SEEDS


def write_part(args) -> int:
    """Pool task: one transcripts part file; returns its turn count."""
    path, seed, part, n_convs, n_heavy, avg_turns, row_group_size = args
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_parse_spark.data.synth import gen_transcripts

    frames = []
    for heavy, n in ((False, n_convs - n_heavy), (True, n_heavy)):
        if n <= 0:
            continue
        df = gen_transcripts(
            n_convs=n,
            avg_turns=avg_turns,
            seed=_part_seed(seed, part, heavy),
            skew_top_pct=1.0 if heavy else 0.0,
        )
        tag = "h" if heavy else "r"
        df["conv_id"] = f"s{seed}-p{part:05d}{tag}-" + df["conv_id"]
        frames.append(df)
    df = pd.concat(frames, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
        row_group_size=row_group_size,
    )
    return len(df)


def _spread_heavy(parts: int, convs_per_part: int) -> list[int]:
    """Heavy conversations per part: exactly round(HEAVY_SHARE * all
    conversations), dealt round-robin over the parts in a shuffled order,
    so the heavy parts are spread over the file sequence."""
    total = round(HEAVY_SHARE * parts * convs_per_part)
    order = sorted(range(parts), key=lambda i: (i * 7919) % parts)
    heavy_of = [0] * parts
    for j, p in enumerate(order):
        heavy_of[p] = total // parts + (1 if j < total % parts else 0)
    return heavy_of


def _write_parts(pool, out: Path, seed: int, heavy_of: list[int], convs: int,
                 avg_turns: int, rgs: int):
    tasks = [
        (str(out / f"part-{i:05d}.parquet"), seed, i, convs, h, avg_turns, rgs)
        for i, h in enumerate(heavy_of)
    ]
    return sum(pool.map(write_part, tasks))


def parse_corpus(pool, seed: int, tiny: bool = False) -> Path:
    cfg = PARSE_TINY if tiny else PARSE
    return _cached(
        "transcripts",
        cfg,
        seed,
        lambda tmp: _write_parts(
            pool, tmp, seed, _spread_heavy(cfg["parts"], cfg["convs_per_part"]),
            cfg["convs_per_part"], cfg["avg_turns"], cfg["row_group_size"],
        ),
    )


def stream_files(workers: int, seed: int, n_files: int, heavy_every: int) -> Path:
    """The stream's files, one heavy conversation in every ``heavy_every``-th
    file, written by a pool of ``workers`` processes that is only started on
    a cache miss."""
    from harness import pool

    cfg = dict(STREAM, files=n_files, heavy_every=heavy_every)
    heavy_of = [int(i % heavy_every == heavy_every // 2) for i in range(n_files)]

    def build(tmp):
        with pool(workers) as p:
            _write_parts(p, tmp, seed + 1_000, heavy_of, cfg["convs_per_file"],
                         cfg["avg_turns"], cfg["row_group_size"])

    return _cached("stream", cfg, seed, build)


_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def _write_curation(tmp: Path, cfg: dict) -> None:
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(cfg["data_seed"])
    n = cfg["docs"]
    texts = [
        " ".join(rng.choice(_VOCAB, size=rng.randint(10, 101)))
        for _ in range(n)
    ]
    # 5% near duplicates (another document's text plus " dup") and a few
    # exact copies, as in the sf testdata
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[rng.randint(n)] + " dup"
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[rng.randint(n)]
    langs, probs = zip(*_LANGS)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(langs, size=n, p=probs),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    m, dim = cfg["vectors"], cfg["dim"]
    centers = rng.normal(size=(10, dim))
    labels = rng.randint(10, size=m).astype("int32")
    vecs = rng.normal(size=(m, dim)) + 0.3 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    emb = pd.DataFrame(
        {"vec_id": np.arange(m, dtype="int64"), "embedding": list(vecs), "label": labels}
    )
    # one row group per table, like the testdata
    for name, df in (("documents", docs), ("embeddings", emb)):
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            tmp / f"{name}.parquet",
            row_group_size=len(df),
        )


def curation_tables(tiny: bool = False) -> Path:
    cfg = CURATION_TINY if tiny else CURATION
    return _cached("curation", cfg, None, lambda tmp: _write_curation(tmp, cfg))


def oracle_cache(name: str, sql: str, data_dir: Path) -> Path:
    """Cache file for one DuckDB oracle result: keyed by the query name, its
    SQL text, the data directory and the DuckDB version."""
    import duckdb

    blob = json.dumps([name, sql, data_dir.name, duckdb.__version__])
    h = hashlib.sha1(blob.encode()).hexdigest()[:16]
    return CACHE / "oracles" / f"{name}-{h}.parquet"


def link_or_copy(src: Path, dst: Path) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)
