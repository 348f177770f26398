"""Seeded input generation. Every table is a pure function of the seed.

The program under test only ever sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Page ids of one seed start at (seed % 1000) * ID_STRIDE: any 1000
# consecutive seeds get disjoint id ranges, hence disjoint urls and texts.
ID_STRIDE = 10_000_000


class _OffsetRange:
    """Session stand-in whose ``range`` starts at a fixed id offset.

    ``webdq.synth.generate_pages`` derives every column from the row id
    of ``spark.range``; shifting the range yields other pages with the
    same tier mix and length distribution."""

    def __init__(self, spark, offset: int):
        self._spark = spark
        self._offset = offset

    def range(self, start, end, step=1, num_partitions=None):
        return self._spark.range(start + self._offset, end + self._offset, step, num_partitions)


def write_pages(spark, seed: int, n_segments: int, seg_rows: int, out_dir: str) -> list[str]:
    """Write ``n_segments`` consecutive page segments; return their paths."""
    from webdq.synth import generate_pages

    base = (seed % 1000) * ID_STRIDE
    paths = []
    for i in range(n_segments):
        path = os.path.join(out_dir, f"pages-{i}")
        generate_pages(_OffsetRange(spark, base + i * seg_rows), seg_rows).write.mode("overwrite").parquet(path)
        paths.append(path)
    return paths


def _word_list(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, size=rng.integers(4, 9))) for _ in range(2 * n)}
    return np.array(sorted(words)[:n])


def write_documents(seed: int, n_docs: int, planted_share: float, path: str) -> set[tuple[int, int]]:
    """Documents of 60-100 words over a 5000-word vocabulary, so unrelated
    documents almost never share a word 3-gram. A ``planted_share`` of them are copies
    of an earlier document with one word appended: 3-gram Jaccard >= 58/59,
    which 4 bands of 2 rows miss with probability < 2e-6 per pair.
    Returns the planted (lower id, higher id) pairs."""
    rng = np.random.default_rng([seed, 1])
    vocab = _word_list(rng, 5000)
    texts: list[str] = []
    planted = set()
    for doc_id in range(n_docs):
        if doc_id > 10 and rng.random() < planted_share:
            src = int(rng.integers(0, doc_id))
            words = texts[src].split(" ") + [str(rng.choice(vocab))]
            planted.add((src, doc_id))
        else:
            words = list(rng.choice(vocab, size=int(rng.integers(60, 101))))
        texts.append(" ".join(words))
    pq.write_table(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts}), path)
    return planted


def write_embeddings(
    seed: int, n_vecs: int, n_blocks: int, dim: int, planted_share: float, path: str
) -> tuple[set[tuple[int, int]], int]:
    """Float32 vectors around one centroid per block, with a ``planted_share``
    of near-copies (cosine ~0.999) of an earlier vector in the same block.
    Returns the planted pairs and the number of same-block pairs."""
    rng = np.random.default_rng([seed, 2])
    centroids = rng.standard_normal((n_blocks, dim))
    labels = rng.integers(0, n_blocks, size=n_vecs)
    vecs = centroids[labels] + 1.6 * rng.standard_normal((n_vecs, dim))
    planted = set()
    for i in range(1, n_vecs):
        if rng.random() < planted_share:
            j = int(rng.integers(0, i))
            labels[i] = labels[j]
            vecs[i] = vecs[j] + 0.02 * rng.standard_normal(dim)
            planted.add((j, i))
    vecs = vecs.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table({"vec_id": pa.array(range(n_vecs), pa.int64()), "embedding": emb, "label": labels.astype(np.int32)}),
        path,
    )
    sizes = np.bincount(labels, minlength=n_blocks)
    return planted, int((sizes * (sizes - 1) // 2).sum())
