"""``logs_index_rw``: index reads beside index writes on the logs table.

Each iteration of the closed loop is one commit followed by four reads:

- commit: one micro-batch of the held-back tail merged into the
  streaming ``source_host`` index with
  ``streaming.index_maintenance.merge_postings_batch`` in its chunked
  (LSM) form.  The inline compaction dial is set to fold the index
  every third merge, so a run spans several compaction cycles;
- two reads served by an ``IndexCatalog`` from the adopted streaming
  index: ``get_doc_ids_where`` and id-set postings;
- full postings of the static ``level`` index built with
  ``catalog.build``, in alternate pairs of iterations served by the
  catalog and planned on the base table through the
  ``plans.catalyst_ext`` rule (asserting that the plan was rewritten to
  a scan of the index);
- one query of the reference's six-query mix (2 id-set postings, 1
  full-table postings, 2 id-set numeric stats, 1 full-table stats, 100
  ids) through an ``Engine`` with no catalog, in rotation.

The seed picks the order in which the held-back batches are committed,
the ids of every id-set query and the host of every lookup.  The table
itself is generated once (``FIXTURE_SEED``) and cached: generating it
per seed would cost more than a run.

Checks, outside the timed calls: the reference mix and the ``level``
reads against DuckDB over the same parquet; after every compaction the
index-served reads against the base-table plan over the base table and
the committed batches.
"""

from __future__ import annotations

import math
import os
import time
from urllib.parse import urlparse

import numpy as np

from .fixtures import logs_fixture
from .harness import DATA_DIR, fresh_dir, tree_bytes

FIXTURE_SEED = 42
SIZES = {
    # base rows, batch rows, batches held back
    "full": (250_000, 5_000, 40),
    "tiny": (20_000, 1_000, 20),
}
MAX_POSTINGS_PER_ROW = 4096
# inline compaction once a bucket holds more than this many segments:
# the backfill leaves one, so every third merge compacts
MAX_SEGMENTS_PER_BUCKET = 3
CYCLE = 3  # iterations per compaction cycle
NOMINAL_CYCLE_S = 7.0  # one cycle's operation time on a 4-core box
N_IDS = 100
STREAM_FIELD = "source_host"
STATIC_FIELD = "level"


class LogsIndexRW:
    # setup_s is the median of two set-ups, a cold and a warm one, as in
    # corpus_ingest; a third would not fit the benchmark's time budget
    SETUPS = 2
    # first calls after set-up run cold (JIT), so one untimed iteration,
    # reading every kind, precedes the measured ones.  Its merge
    # compacts, so the measured loop starts a compaction cycle and its
    # compactions run warm (the first compaction ran ~50% slow)
    WARMUP_ITERATIONS = 1

    def __init__(self, seed: int, size: str, tracer, work_dir: str):
        self.seed = seed
        self.base_rows, self.batch_rows, self.n_batches = SIZES[size]
        self.tracer = tracer
        self.work = work_dir
        self.cat_root = os.path.join(work_dir, "catalog")
        self.stream_path = os.path.join(work_dir, "stream_source_host")
        self.max_segments = 0

    def session_conf(self) -> dict:
        from polars_w_inverted_index_spark.plans.catalyst_ext import (
            with_index_extension,
        )

        return with_index_extension(_Conf(), self.cat_root)

    def iterations(self, seconds: float, traced: bool = False) -> int:
        """Whole compaction cycles filling ``seconds`` on a 4-core box."""
        cycles = max(1, math.ceil(seconds / NOMINAL_CYCLE_S))
        return min(cycles * CYCLE, self.n_batches)

    # -- inputs and expected results (never timed) -------------------------

    def prepare(self, spark) -> dict:
        self.fx = logs_fixture(
            spark, DATA_DIR, FIXTURE_SEED, self.base_rows, self.batch_rows,
            self.n_batches,
        )
        rng = np.random.default_rng([self.seed, 11])
        self.batch_order = [int(b) for b in rng.permutation(self.n_batches)]
        step = self.base_rows // N_IDS
        self.ref_ids = [int(i * step + rng.integers(0, step)) for i in range(N_IDS)]
        self.rng = rng
        self._expect_base()
        return {"sources.generator.gen_s": self.fx.gen_s}

    def _expect_base(self) -> None:
        """Results of the reference mix and of the ``level`` postings
        over the base table, from DuckDB."""
        import duckdb

        con = duckdb.connect()
        src = f"read_parquet('{self.fx.base_path}/*.parquet')"
        ids = ",".join(map(str, self.ref_ids))

        def postings(field: str, where: str = "TRUE") -> dict:
            rows = con.execute(
                f"SELECT CAST({field} AS VARCHAR), list(doc_id ORDER BY doc_id) "
                f"FROM {src} WHERE {field} IS NOT NULL AND {where} GROUP BY 1"
            ).fetchall()
            return {v: np.asarray(d, dtype=np.int64) for v, d in rows}

        def stats(field: str, where: str = "TRUE") -> tuple:
            return con.execute(
                f"SELECT CAST(min({field}) AS DOUBLE), CAST(max({field}) AS DOUBLE), "
                f"avg(CAST({field} AS DOUBLE)) FROM {src} WHERE {where}"
            ).fetchone()

        in_ids = f"doc_id IN ({ids})"
        self.expected = {
            "ref.postings_ids_level": postings("level", in_ids),
            "ref.postings_ids_region": postings("source_region", in_ids),
            "ref.postings_host": postings("source_host"),
            "ref.stats_ids_payload": stats("payload_size", in_ids),
            "ref.stats_ids_login": stats("user_metrics_login_time_ms", in_ids),
            "ref.stats_clicks": stats("user_metrics_clicks"),
            STATIC_FIELD: postings(STATIC_FIELD),
        }
        con.close()

    # -- set-up (timed by the caller) ----------------------------------------

    def setup(self, spark) -> dict:
        from polars_w_inverted_index_spark import Engine
        from polars_w_inverted_index_spark.plans.catalog import IndexCatalog
        from polars_w_inverted_index_spark.streaming.index_maintenance import (
            merge_postings_batch,
        )

        fresh_dir(self.work)
        base = spark.read.parquet(self.fx.base_path)
        t0 = time.perf_counter()
        cat = IndexCatalog(spark, self.cat_root)
        self.level_index = cat.build(base, self.fx.base_path, STATIC_FIELD)
        t1 = time.perf_counter()
        merge_postings_batch(
            base, STREAM_FIELD, self.stream_path,
            max_postings_per_row=MAX_POSTINGS_PER_ROW,
        )
        cat.adopt_streaming(self.fx.base_path, STREAM_FIELD, self.stream_path)
        t2 = time.perf_counter()
        self.spark = spark
        self.catalog = cat
        self.eng_cat = Engine(spark, path=self.fx.base_path, index_catalog=cat)
        self.eng_base = Engine(spark, path=self.fx.base_path)
        self.committed: list[int] = []
        self.next_ref = 0
        return {
            "plans.catalog.build_s": t1 - t0,
            "streaming.state_build_s": t2 - t1,
        }

    # -- the loop ----------------------------------------------------------------

    def _sample_ids(self) -> list[int]:
        """N_IDS distinct ids of the base table and committed batches."""
        k = self.rng.choice(
            self.base_rows + len(self.committed) * self.batch_rows,
            N_IDS, replace=False,
        )
        out = []
        for x in sorted(int(v) for v in k):
            if x >= self.base_rows:
                b, off = divmod(x - self.base_rows, self.batch_rows)
                x = self.base_rows + self.committed[b] * self.batch_rows + off
            out.append(x)
        return sorted(out)

    def _reads(self, i: int, check_index: bool = False):
        """``(name, build, check)`` of iteration ``i``'s reads."""
        host = f"server-{int(self.rng.integers(1, 21))}.region.local"
        ids = self._sample_ids()
        truth = self._base_plan() if check_index else None

        def doc_ids_check(tbl) -> bool:
            if truth is None:
                return tbl.num_rows > 0
            want = truth.get_doc_ids_where({STREAM_FIELD: host}).toArrow()
            return _sorted_ids(tbl) == _sorted_ids(want)

        def id_postings_check(tbl) -> bool:
            if truth is None:
                return tbl.num_rows > 0
            want = truth.get_field_values_by_doc_ids(STREAM_FIELD, ids).toArrow()
            return _postings(tbl) == _postings(want)

        level = self.expected[STATIC_FIELD]
        both = [
            ("static.level_catalog", self.eng_cat),
            ("static.level_catalyst", self.eng_base),
        ]
        statics = both if i < 0 else [both[i // 2 % 2]]
        return [
            (
                "stream.doc_ids_where",
                lambda: self.eng_cat.get_doc_ids_where({STREAM_FIELD: host}),
                doc_ids_check,
            ),
            (
                "stream.postings_ids",
                lambda: self.eng_cat.get_field_values_by_doc_ids(STREAM_FIELD, ids),
                id_postings_check,
            ),
            *[
                (
                    name,
                    lambda eng=eng: eng.get_field_values(STATIC_FIELD),
                    lambda tbl: _postings_equal(tbl, level),
                )
                for name, eng in statics
            ],
            self._ref_query(),
        ]

    def _ref_query(self):
        """The next query of the reference mix, in rotation."""
        e, ids, exp = self.eng_base, self.ref_ids, self.expected
        mix = [
            ("ref.postings_ids_level", lambda: e.get_field_values_by_doc_ids("level", ids)),
            ("ref.postings_ids_region", lambda: e.get_field_values_by_doc_ids("source_region", ids)),
            ("ref.postings_host", lambda: e.get_field_values("source_host")),
            ("ref.stats_ids_payload", lambda: e.get_numeric_stats_by_doc_ids("payload_size", ids)),
            ("ref.stats_ids_login", lambda: e.get_numeric_stats_by_doc_ids("user_metrics_login_time_ms", ids)),
            ("ref.stats_clicks", lambda: e.get_numeric_stats("user_metrics_clicks")),
        ]
        name, build = mix[self.next_ref % len(mix)]
        self.next_ref += 1
        if name.startswith("ref.postings"):
            return name, build, lambda tbl: _postings_equal(tbl, exp[name])
        return name, build, lambda tbl: _stats_equal(tbl, exp[name])

    def _base_plan(self):
        """Engine with no catalog over the base table and the committed
        batches: the plan the index-served reads must agree with."""
        from polars_w_inverted_index_spark import Engine

        paths = [self.fx.base_path] + [self.fx.batch_path(b) for b in self.committed]
        return Engine(self.spark, df=self.spark.read.parquet(*paths))

    def iteration(self, i: int, client) -> None:
        from polars_w_inverted_index_spark.streaming import index_maintenance as im

        b = self.batch_order[len(self.committed)]
        batch = self.spark.read.parquet(self.fx.batch_path(b))
        merges = im.index_fragmentation(self.stream_path)["merge"]
        max_segments = (
            1 if i == -self.WARMUP_ITERATIONS else MAX_SEGMENTS_PER_BUCKET
        )
        tr = self.tracer

        def merge():
            with tr.span("streaming.index_maintenance.merge"):
                im.merge_postings_batch(
                    batch, STREAM_FIELD, self.stream_path,
                    batch_id=len(self.committed) + 1,
                    max_segments_per_bucket=max_segments,
                )

        compacted = False

        def merged(_out) -> bool:
            nonlocal compacted
            frag = im.index_fragmentation(self.stream_path)
            self.max_segments = max(
                self.max_segments, frag["max_segments_per_bucket"]
            )
            compacted = frag["merge"] > merges + 1  # merge, then compaction
            return frag["merge"] > merges

        client.commit(
            "index_merge", merge, self.batch_rows, self.fx.batch_bytes(b), merged
        )
        self.committed.append(b)
        for name, build, check in self._reads(i, check_index=compacted):
            plan_check = self._rewritten if name == "static.level_catalyst" else None
            client.read(name, build, check, plan_check)

    def _rewritten(self, df) -> bool:
        """The Catalyst rule answered from the index: every file the
        plan reads lies under the static index."""
        files = [urlparse(f).path for f in df.inputFiles()]
        return bool(files) and all(
            f.startswith(self.level_index + os.sep) for f in files
        )

    def space_amp(self) -> float:
        """Index bytes per byte of the indexed parquet."""
        indexed = tree_bytes(self.fx.base_path) + sum(
            self.fx.batch_bytes(b) for b in self.committed
        )
        return tree_bytes(self.work) / indexed

    def layer_counts(self) -> dict:
        return {
            "streaming.index_maintenance.max_segments_per_bucket": self.max_segments
        }


class _Conf(dict):
    """Collects the builder settings ``with_index_extension`` makes."""

    def config(self, key, value):
        self[key] = value
        return self


def _sorted_ids(tbl) -> list[int]:
    return sorted(tbl.column(0).to_pylist())


def _postings(tbl) -> dict:
    return {
        v: sorted(d)
        for v, d in zip(tbl.column("value").to_pylist(), tbl.column("doc_ids").to_pylist())
    }


def _postings_equal(tbl, expected: dict) -> bool:
    values = tbl.column("value").to_pylist()
    if sorted(values) != sorted(expected):
        return False
    ids = tbl.column("doc_ids")
    return all(
        np.array_equal(np.sort(ids[i].values.to_numpy()), expected[v])
        for i, v in enumerate(values)
    )


def _stats_equal(tbl, expected: tuple) -> bool:
    row = tbl.to_pylist()[0]
    got = (row["min"], row["max"], row["avg"])
    return all(math.isclose(g, w, rel_tol=1e-9) for g, w in zip(got, expected))
