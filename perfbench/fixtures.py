"""Seeded benchmark inputs, generated inside the checkout and cached.

Two fixtures, each a pure function of ``(seed, size)``:

- the logs table: ``sources.generator.generate_logs(seed)`` rows split
  into a BASE table written by ``sources.parquet.write_sorted_parquet``
  and a held-back TAIL of fixed-size micro-batches (one parquet
  directory per batch), so commits never change the base table;
- the LLM corpus: synthetic documents (with planted near-duplicates
  and shared boilerplate spans) and clustered embeddings (with planted
  near-duplicate vectors), each split into a standing part and one
  commit batch.  The seed draws the content; the planted structure is
  the same for every seed, so the work per operation is too.

Generation time is recorded once in the fixture's ``_DONE`` marker and
reported as ``sources.generator.gen_s``; it is never part of a run's
set-up time.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from .harness import tree_bytes

KEEP_CACHED = 4  # fixtures of each kind kept on disk (newest first)


def _cached(data_dir: str, prefix: str, key: str, build) -> tuple[str, dict]:
    """Return ``(path, marker)`` of the fixture ``prefix + key``,
    building it with ``build(tmp_path) -> marker`` when absent.  The
    marker is written last, so a build cut short is rebuilt."""
    path = os.path.join(data_dir, prefix + key)
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        t0 = time.perf_counter()
        marker = build(path)
        marker["gen_s"] = time.perf_counter() - t0
        with open(done, "w") as f:
            json.dump(marker, f)
        _evict(data_dir, prefix)
    with open(done) as f:
        return path, json.load(f)


def _evict(data_dir: str, prefix: str) -> None:
    entries = sorted(
        (e for e in os.scandir(data_dir) if e.name.startswith(prefix)),
        key=lambda e: e.stat().st_mtime,
        reverse=True,
    )
    for e in entries[KEEP_CACHED:]:
        shutil.rmtree(e.path, ignore_errors=True)


# -- logs ------------------------------------------------------------------


@dataclass(frozen=True)
class LogsFixture:
    base_path: str
    base_rows: int
    batch_rows: int
    n_batches: int
    gen_s: float
    root: str

    def batch_path(self, i: int) -> str:
        return os.path.join(self.root, "tail", f"batch={i}")

    def batch_bytes(self, i: int) -> int:
        return tree_bytes(self.batch_path(i))


def logs_fixture(
    spark, data_dir: str, seed: int, base_rows: int, batch_rows: int,
    n_batches: int,
) -> LogsFixture:
    from pyspark.sql import functions as F

    from polars_w_inverted_index_spark.sources.generator import generate_logs
    from polars_w_inverted_index_spark.sources.parquet import (
        write_sorted_parquet,
    )

    def build(path: str) -> dict:
        logs = generate_logs(
            spark, base_rows + batch_rows * n_batches, seed=seed
        )
        write_sorted_parquet(
            logs.where(F.col("doc_id") < base_rows),
            os.path.join(path, "base"),
        )
        tail = logs.where(F.col("doc_id") >= base_rows).withColumn(
            "batch",
            ((F.col("doc_id") - base_rows) / batch_rows).cast("int"),
        )
        tail.repartition("batch").write.partitionBy("batch").parquet(
            os.path.join(path, "tail")
        )
        return {}

    key = f"s{seed}_n{base_rows}_b{batch_rows}x{n_batches}"
    path, marker = _cached(data_dir, "logs_", key, build)
    return LogsFixture(
        base_path=os.path.join(path, "base"),
        base_rows=base_rows,
        batch_rows=batch_rows,
        n_batches=n_batches,
        gen_s=marker["gen_s"],
        root=path,
    )


# -- LLM corpus ------------------------------------------------------------

_VOCAB = (
    "spark table query index scan filter join group agg sort merge batch "
    "stream window row column key value hash part order line data vector "
    "fast slow big small a the of to and in model token text corpus shard "
    "dedup drift span embed cell probe"
).split()
_LANGS = (["en"] * 4) + ["de", "fr", "es", "zh"]
_BOILERPLATE = (
    "subscribe to our newsletter for more updates on this topic today"
)


@dataclass(frozen=True)
class CorpusFixture:
    docs_base: str
    docs_batch: str
    emb_base: str
    emb_batch: str
    queries: str
    gen_s: float
    bytes: dict  # file sizes by name


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random texts with a seed-independent shape, so the dedup and
    scrub work is the same for every seed: every 12th document is a
    one-word edit of the document five before it (some of them fall in
    the commit batch, some in the standing corpus), and every 5th
    carries the boilerplate span (every batch document does)."""
    texts = []
    for i in range(n):
        if i % 12 == 10:
            words = texts[i - 5].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, size=int(rng.integers(5, 90))))
            if i % 5 == 0:
                cut = int(rng.integers(0, len(words) + 1))
                words[cut:cut] = _BOILERPLATE.split()
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [str(x) for x in rng.choice(_LANGS, size=n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dims: int) -> dict:
    """Eight gaussian clusters; every 20th vector is a near copy of the
    one before it (the same count for every seed)."""
    centers = rng.normal(size=(8, dims))
    label = np.arange(n) % 8
    vecs = centers[label] + 0.6 * rng.normal(size=(n, dims))
    dup = np.arange(n) % 20 == 19
    vecs[dup] = vecs[np.flatnonzero(dup) - 1] + 0.01 * rng.normal(
        size=(int(dup.sum()), dims)
    )
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": label.astype(np.int32),
    }


def corpus_fixture(
    data_dir: str, seed: int, n_docs: int, n_vecs: int, dims: int = 64,
    n_queries: int = 20,
) -> CorpusFixture:
    """Documents and embeddings; every tenth document and every fifth
    vector form the commit batch, the rest the standing corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(table: dict, mask, path: str) -> None:
        t = pa.table(table)
        pq.write_table(t.filter(pa.array(mask)), path)

    def build(path: str) -> dict:
        rng = np.random.default_rng([seed, 7])
        docs = _documents(rng, n_docs)
        emb = _embeddings(rng, n_vecs, dims)
        in_batch = docs["doc_id"] % 10 == 0
        write(docs, ~in_batch, os.path.join(path, "docs_base.parquet"))
        write(docs, in_batch, os.path.join(path, "docs_batch.parquet"))
        v_batch = emb["vec_id"] % 5 == 0
        write(emb, ~v_batch, os.path.join(path, "emb_base.parquet"))
        write(emb, v_batch, os.path.join(path, "emb_batch.parquet"))
        q = emb["vec_id"] < n_queries
        write(emb, q, os.path.join(path, "queries.parquet"))
        return {}

    key = f"s{seed}_d{n_docs}_v{n_vecs}x{dims}"
    path, marker = _cached(data_dir, "corpus_", key, build)
    p = {
        name: os.path.join(path, f"{name}.parquet")
        for name in (
            "docs_base", "docs_batch", "emb_base", "emb_batch", "queries"
        )
    }
    return CorpusFixture(
        **p,
        gen_s=marker["gen_s"],
        bytes={k: os.path.getsize(v) for k, v in p.items()},
    )
