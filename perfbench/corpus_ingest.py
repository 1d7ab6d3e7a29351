"""``corpus_ingest``: the LLM-data pipeline's commits and serves.

Each iteration of the closed loop commits one batch through each of the
four streaming operators, every one against its standing state restored
outside the timed call (so each commit does the same work), then runs
the three reads, READ_ROUNDS times over (reads need no restore, and
with one sample of each the read percentiles fell between two kinds of
read):

- commits: ``near_dedup_batch``, ``drift_monitor_batch``,
  ``span_scrub_batch`` and ``ann_ingest_batch``;
- reads: ``ann_search_auto``, ``ann_search_pq`` (over the standing ANN
  index with its PQ sidecar) and ``semantic_dedup`` (over the standing
  embeddings).

Every output is checked against the digest of the same operation's
output in the warm-up iteration, which holds because the state is
restored before each operation, and against the planted shape of the
inputs: near-dedup rejects some batch documents, the scrub removes
tokens, ANN ingest appends the whole batch, each serve returns ``k``
neighbours per query, and semantic dedup drops the planted duplicates.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

from .fixtures import corpus_fixture
from .harness import DATA_DIR, fresh_dir, tree_bytes

SIZES = {
    # documents, embeddings
    "full": (5_000, 2_000),
    "tiny": (400, 200),
}
N_CENTROIDS = 8
TOP_K = 5
NPROBE = 4
SEMANTIC_THRESHOLD = 0.9
READ_ROUNDS = 3  # rounds of the three reads per measured iteration
NOMINAL_ITERATION_S = 14.0  # one iteration's operation time on a 4-core box
N_QUERIES = 20


class CorpusIngest:
    # a warm set-up takes ~15 s on a 4-core box (the first, cold one
    # ~30 s); a third would not fit the benchmark's time budget
    SETUPS = 2
    # the commit paths first run after set-up and are ~20-45% slower
    # on that first run (JIT), so one untimed iteration precedes the
    # measured ones; it also records the digests later outputs must match
    WARMUP_ITERATIONS = 1

    def __init__(self, seed: int, size: str, tracer, work_dir: str):
        self.seed = seed
        self.n_docs, self.n_vecs = SIZES[size]
        self.tracer = tracer
        self.work = work_dir
        self.pristine = os.path.join(work_dir, "pristine")
        self.live = os.path.join(work_dir, "live")
        self.digests: dict[str, str] = {}

    def session_conf(self) -> dict:
        return {}

    def iterations(self, seconds: float, traced: bool = False) -> int:
        """Two in a traced run, so that both its halves see every op."""
        return max(2 if traced else 1, round(seconds / NOMINAL_ITERATION_S))

    def prepare(self, spark) -> dict:
        self.fx = corpus_fixture(
            DATA_DIR, self.seed, self.n_docs, self.n_vecs, n_queries=N_QUERIES
        )
        return {"sources.generator.gen_s": self.fx.gen_s}

    def setup(self, spark) -> dict:
        from polars_w_inverted_index_spark.functions.text import unigram_lm
        from polars_w_inverted_index_spark.operators import ann_index as AI
        from polars_w_inverted_index_spark.streaming import (
            drift_monitor_batch,
            near_dedup_batch,
        )
        from polars_w_inverted_index_spark.streaming.span_scrub import (
            span_scrub_batch,
        )

        fresh_dir(self.work)
        fx, rd = self.fx, spark.read.parquet
        self.spark = spark
        self.docs_base, self.docs_batch = rd(fx.docs_base), rd(fx.docs_batch)
        self.emb_base, self.emb_batch = rd(fx.emb_base), rd(fx.emb_batch)
        self.queries = rd(fx.queries)
        p = self.pristine
        t0 = time.perf_counter()
        near_dedup_batch(self.docs_base, f"{p}/near_dedup", batch_id=0)
        span_scrub_batch(self.docs_base, f"{p}/span_scrub", batch_id=0)
        unigram_lm(self.docs_base).write.parquet(f"{p}/ref_lm")
        self.ref_lm = rd(f"{p}/ref_lm")
        drift_monitor_batch(self.docs_base, f"{p}/drift", self.ref_lm, batch_id=0)
        AI.build_ann_index(
            self.emb_base, f"{p}/ann", n_centroids=N_CENTROIDS, n_iters=1
        )
        AI.pq_augment_ann_index(
            spark, f"{p}/ann", m_subspaces=8, n_codes=16, n_iters=1
        )
        return {"streaming.state_build_s": time.perf_counter() - t0}

    def _restore(self, state: str) -> str:
        dst = os.path.join(self.live, state)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(os.path.join(self.pristine, state), dst)
        return dst

    def _reads(self):
        """``(name, build, expect(table))``."""
        from polars_w_inverted_index_spark.operators import ann_index as AI
        from polars_w_inverted_index_spark.operators.dedup import semantic_dedup

        spark, root, q = self.spark, f"{self.pristine}/ann", self.queries
        n_base = self.n_vecs - self.n_vecs // 5
        return [
            (
                "ann_search_auto",
                lambda: AI.ann_search_auto(spark, root, q, k=TOP_K, nprobe=NPROBE),
                lambda t: t.num_rows == N_QUERIES * TOP_K,
            ),
            (
                "ann_search_pq",
                lambda: AI.ann_search_pq(
                    spark, root, q, k=TOP_K, nprobe=NPROBE, rerank_factor=4
                ),
                lambda t: t.num_rows == N_QUERIES * TOP_K,
            ),
            (
                "semantic_dedup",
                lambda: semantic_dedup(
                    self.emb_base, threshold=SEMANTIC_THRESHOLD
                ).select("vec_id"),
                lambda t: 0 < t.num_rows < n_base,
            ),
        ]

    def _commits(self):
        """``(name, layer span, state, call(state_path), rows, bytes,
        expect(output))``."""
        from polars_w_inverted_index_spark.streaming import (
            ann_ingest_batch,
            drift_monitor_batch,
            near_dedup_batch,
        )
        from polars_w_inverted_index_spark.streaming.span_scrub import (
            span_scrub_batch,
        )

        docs, emb = self.docs_batch, self.emb_batch
        n_docs = self.n_docs // 10
        n_vecs = self.n_vecs // 5
        b = self.fx.bytes
        return [
            (
                "near_dedup", "streaming.near_dedup.batch", "near_dedup",
                lambda s: near_dedup_batch(docs, s, batch_id=1).toArrow(),
                n_docs, b["docs_batch"],
                lambda t: 0 < t.num_rows < n_docs,
            ),
            (
                "drift", "streaming.drift.batch", "drift",
                lambda s: drift_monitor_batch(
                    docs, s, self.ref_lm, batch_id=1
                ).toArrow(),
                n_docs, b["docs_batch"],
                lambda t: t.num_rows == 1,
            ),
            (
                "span_scrub", "streaming.span_scrub.batch", "span_scrub",
                lambda s: span_scrub_batch(docs, s, batch_id=1).toArrow(),
                n_docs, b["docs_batch"],
                lambda t: sum(t.column("n_removed_tokens").to_pylist()) > 0,
            ),
            (
                "ann_ingest", "streaming.ann_ingest.batch", "ann",
                lambda s: ann_ingest_batch(emb, s, batch_id=1),
                n_vecs, b["emb_batch"],
                lambda n: n == n_vecs,
            ),
        ]

    def iteration(self, i: int, client) -> None:
        tr = self.tracer
        for name, layer, state, call, rows, nbytes, expect in self._commits():
            path = self._restore(state)

            def run(call=call, layer=layer, path=path):
                with tr.span(layer):
                    return call(path)

            client.commit(name, run, rows, nbytes, self._check(name, expect))
        for _ in range(1 if i < 0 else READ_ROUNDS):
            for name, build, expect in self._reads():
                client.read(name, build, self._check(name, expect))

    def _check(self, name: str, expect):
        """The output has the expected shape and the digest of the first
        output of the same operation."""

        def check(out) -> bool:
            d = _digest(out)
            return expect(out) and self.digests.setdefault(name, d) == d

        return check

    def space_amp(self) -> float:
        """Standing state and index bytes per byte of the inputs they
        were built from."""
        b = self.fx.bytes
        return tree_bytes(self.pristine) / (b["docs_base"] + b["emb_base"])

    def layer_counts(self) -> dict:
        return {}


def _digest(out) -> str:
    """Order-insensitive digest of an Arrow table (or a plain value);
    floats are rounded so that the digest names the result, not the
    summation order."""
    if not hasattr(out, "to_pylist"):
        return repr(out)
    rows = [
        tuple(round(v, 6) if isinstance(v, float) else v for v in r.values())
        for r in out.to_pylist()
    ]
    return hashlib.sha256(repr(sorted(rows, key=repr)).encode()).hexdigest()
