"""Seeded inputs.  The same seed gives the same inputs; the engine only
ever sees what these functions build."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Measured on the sf0.1 tables that ``__spark_entry__`` is benchmarked
# on: ``documents`` has 5000 rows of 10-100 words (mean 54) drawn from
# these 31 words, languages en 41 %, zh/es/fr 15 % each, de 14 %, and 20
# sources; ``embeddings`` has 2000 unit 64-d float32 vectors in 10
# labels; ``region`` and ``nation`` have 5 and 25 rows.
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def perlin_dem(size: int, seed: int) -> np.ndarray:
    """``kernels.perlin.generate_perlin_terrain`` at this seed."""
    from richdem_spark.kernels.perlin import generate_perlin_terrain

    return generate_perlin_terrain(size, seed=seed)


def write_tables(out_dir: str, seed: int, n_docs: int,
                 n_vecs: int, dim: int = 64) -> None:
    """``documents``, ``embeddings``, ``region`` and ``nation`` parquet
    tables with the schema and value ranges measured above, at the given
    row counts: random-word documents with 1 % planted exact and near
    duplicates (the measured table has 8 exact ones), and unit embeddings
    scattered around ten class centres."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(rng.choice(WORDS, n)))
    n_dup = max(1, n_docs // 100)
    src = rng.integers(0, n_docs, n_dup)
    dst = rng.integers(0, n_docs, n_dup)
    for s, d in zip(src, dst):
        words = texts[s].split()
        if rng.random() < 0.5:
            words[int(rng.integers(len(words)))] = str(rng.choice(WORDS))
        texts[d] = " ".join(words)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{int(i)}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n_vecs)
    vec = centres[label] + 0.7 * rng.normal(size=(n_vecs, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": regions,
    }), os.path.join(out_dir, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), os.path.join(out_dir, "nation.parquet"))
