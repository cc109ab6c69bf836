"""Seeded benchmark inputs, written atomically under the work directory.

The program under test only ever sees the files written here: the clips
table of ``entity_deduplication_spark.datagen.generate_clips`` (with its
planted-duplicate truth kept in memory for the output gate) and a small-
vocabulary documents table whose planted near-copies give the exact n-gram
join a heavy shared-gram load.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from entity_deduplication_spark.datagen import CLIPS_ROW_GROUP_SIZE

# a small vocabulary makes word 3-grams shared by many documents: a gram
# in f documents costs the exact n-gram self-join C(f, 2) rows
DOC_VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet",
]


def write_parquet(df: pd.DataFrame, path: str, row_group_size: int) -> None:
    """Write via a hidden temp file + rename, so a reader (or a streaming
    source listing the directory) never sees a partial file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp{os.getpid()}")
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), tmp,
        row_group_size=row_group_size,
    )
    os.replace(tmp, path)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_clips(df: pd.DataFrame, path: str) -> None:
    write_parquet(df, path, CLIPS_ROW_GROUP_SIZE)


def write_clip_files(df: pd.DataFrame, directory: str, n_files: int) -> None:
    """Split the clips into ``n_files`` parquet files (stream input)."""
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        write_clips(df.iloc[part], os.path.join(directory, f"part-{i:04d}.parquet"))


def docs(n: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(docs, truth) over a 10-word vocabulary, 10-100 words per doc.

    A fifth of the docs are planted copies of an earlier doc. Half of the
    copies of a doc with >= 20 words have one word replaced, which changes
    at most three of its 18+ word 3-grams and keeps the copy's Jaccard
    with its original well above the 0.3 threshold; the other copies are
    exact. Truth clusters are (original, its copies).
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB)
    v = len(vocab)
    texts: list[str] = []
    cluster: list[int] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            src = int(rng.integers(0, i))
            while cluster[src] != src:  # copy an original, not a copy
                src = cluster[src]
            words = texts[src].split()
            if len(words) >= 20 and rng.random() < 0.5:
                pos = int(rng.integers(0, len(words)))
                old = DOC_VOCAB.index(words[pos])
                words[pos] = DOC_VOCAB[(old + int(rng.integers(1, v))) % v]
            texts.append(" ".join(words))
            cluster.append(src)
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, v, k)]))
            cluster.append(i)
    ids = np.arange(n, dtype=np.int64)
    frame = pd.DataFrame({"doc_id": ids, "text": texts})
    truth = pd.DataFrame({"doc_id": ids, "true_cluster_id": np.array(cluster)})
    return frame, truth


def write_docs(df: pd.DataFrame, path: str) -> None:
    write_parquet(df, path, 1 << 16)
