"""The benchmark workloads. Each one generates its inputs from the seed,
drives the engine through its public entry points in a closed loop (the
next operation is issued only after the previous one returned), and
checks every timed output against DuckDB after the timed region.

A workload exposes:

* ``prepare()`` — generate and write the inputs and load them; repeatable,
  so set-up can be timed more than once;
* ``WARM_UNITS`` — how many full-size units the harness runs and discards
  before timing: the JIT keeps warming through them;
* ``unit(i, traced)`` — one unit of work; returns its wall time and
  queues its outputs for ``check()``;
* ``check()`` — compare every queued output with the oracle; returns the
  list of failures.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from oracle import Oracle, compare, round_col, trigram_topn_sql
from polars_sim_spark import cache
from polars_sim_spark.functions.text import trigram_tokens
from polars_sim_spark.operators.join_sim import join_sim, similarity_mapping
from polars_sim_spark.queries import ORACLES, QUERIES
from polars_sim_spark.sources.tables import load_table

TOP_N = 10


def _noop(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    OPS_PER_UNIT = 1
    # top-level spans that make up a unit's wall time; a traced unit's
    # layer probes run outside it
    TIMED_SPANS: frozenset[str] = frozenset()
    WARM_UNITS = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.pending: list[tuple[str, object]] = []  # (label, thunk -> error | None)
        self.inputs: dict = {}
        self.raised: list[str] = []

    def span(self, name: str, op: int):
        return self.tracer.span(name, op)

    def release(self, op: int, traced: bool) -> None:
        """Drop every cache and checkpoint the operation left behind, as a
        long-lived session owner does between requests."""
        with self.span("cache.release", op):
            cache.unpersist_all()
            cache.sweep_persistent_rdds(self.spark)
        if traced:
            jsc = self.spark.sparkContext._jsc.sc()
            infos = jsc.getRDDStorageInfo()
            mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
            self.ctx.counters.append(
                (op, "cache.live_rdds", float(jsc.getPersistentRDDs().size()))
            )
            self.ctx.counters.append((op, "cache.storage_mb", mb))

    def check(self) -> list[str]:
        errors = []
        for label, thunk in self.pending:
            try:
                err = thunk()
            except Exception as e:  # an oracle that cannot run is a failed check
                err = f"check raised {type(e).__name__}: {e}"
            if err is not None:
                errors.append(f"{label}: {err}")
        return errors


# ---------------------------------------------------------------------------
# namejoin: the paper's operator at the reference benchmark's shape
# ---------------------------------------------------------------------------


class NameJoin(Workload):
    name = "namejoin"
    TIMED_SPANS = frozenset({"operators.join_sim.join"})
    # join times kept falling through the first five full-size joins
    WARM_UNITS = 5
    LEFT, RIGHT = 1_000, 10_000

    def _write_inputs(self, rng, n_left: int, n_right: int, tag: str) -> tuple[str, str]:
        right_names = gen.person_names(rng, n_right)
        left_names = gen.name_batch(rng, n_left, right_names)
        d = self.ctx.data_dir
        lp = gen.write(gen.name_table(np.arange(n_left), left_names, "l_id", "lpay", rng), d, f"{tag}_left")
        rp = gen.write(gen.name_table(np.arange(n_right), right_names, "r_id", "rpay", rng), d, f"{tag}_right")
        self.inputs[tag] = {
            "left_rows": n_left, "right_rows": n_right,
            "left_dup_share": gen.duplicate_share(left_names),
            "right_dup_share": gen.duplicate_share(right_names),
            "left_collapse_share": gen.collapse_share(left_names),
            "right_collapse_share": gen.collapse_share(right_names),
        }
        return lp, rp

    def prepare(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        self.paths = self._write_inputs(rng, self.LEFT, self.RIGHT, "nj")
        self.left = load_table(self.spark, self.ctx.data_dir, "nj_left")
        self.right = load_table(self.spark, self.ctx.data_dir, "nj_right")
        self.expected = None

    def _join(self, left, right):
        return join_sim(left, right, on="name", top_n=TOP_N, left_id="l_id", right_id="r_id")

    def unit(self, i: int, traced: bool) -> float:
        t0 = time.perf_counter()
        with self.span("operators.join_sim.join", i):
            with self.span("operators.join_sim.build", i):
                out = self._join(self.left, self.right)
            with self.span("operators.join_sim.action", i):
                rows = out.collect()
            self.release(i, traced)
        wall = time.perf_counter() - t0
        cols = out.columns
        self.pending.append((f"join {i}", lambda: self._check(cols, rows)))
        if traced:
            self._layers(i)
        return wall

    def _layers(self, i: int) -> None:
        """Layer probes of the traced run, outside the unit's wall time."""
        with self.span("sources.scan", i):
            _noop(load_table(self.spark, self.ctx.data_dir, "nj_left"))
            _noop(load_table(self.spark, self.ctx.data_dir, "nj_right"))
        with self.span("functions.text.tokenize", i):
            _noop(self.left.select("l_id", trigram_tokens(F.col("name")).alias("t")))
            _noop(self.right.select("r_id", trigram_tokens(F.col("name")).alias("t")))
        with self.span("operators.join_sim.mapping_build", i):
            m = similarity_mapping(
                self.left, self.right, left_on="name", right_on="name", top_n=TOP_N,
                left_id="l_id", right_id="r_id",
            )
        with self.span("operators.join_sim.mapping", i):
            _noop(m)
        self.release(i, False)

    def _check(self, cols: list[str], rows: list[tuple]) -> str | None:
        if self.expected is None:
            o = Oracle({"l": self.paths[0], "r": self.paths[1]})
            try:
                self.expected = o.rows(
                    f"""
SELECT m.l_id, m.r_id, l.name, l.lpay, r.name AS name_right, r.rpay, m.sim
FROM ({trigram_topn_sql('l', 'r', TOP_N)}) m
JOIN l USING (l_id) JOIN r USING (r_id)"""
                )
            finally:
                o.close()
        dcols, drows = self.expected
        return compare(cols, round_col(cols, rows, "sim"), dcols, round_col(dcols, drows, "sim"))


# ---------------------------------------------------------------------------
# media: decode-bound registry rows (Python workers)
# ---------------------------------------------------------------------------

MEDIA_ROWS = {
    "multimodal_jpeg_pixel_stats": "operators.multimodal",
    "multimodal_jpeg_progressive_stats": "operators.multimodal",
    "multimodal_png_pixel_stats": "operators.multimodal",
    "multimodal_mp3_pcm_stats": "operators.multimodal",
    "dedup_images_phash": "operators.dedup",
}


class Media(Workload):
    name = "media"
    OPS_PER_UNIT = len(MEDIA_ROWS)
    TIMED_SPANS = frozenset(f"{mod}.{row}" for row, mod in MEDIA_ROWS.items())
    DOCS = 300
    # The MP3 oracle replays the polyphase synthesis in SQL at about
    # 80 ms per document, so that row decodes a smaller corpus.
    ROW_DOCS = {"multimodal_mp3_pcm_stats": 40}

    def docs(self, row: str) -> int:
        return self.ROW_DOCS.get(row, self.DOCS)

    def prepare(self) -> None:
        for n in sorted({self.docs(r) for r in MEDIA_ROWS}):
            rng = np.random.default_rng([self.ctx.seed, n])
            gen.write(gen.documents(rng, n), os.path.join(self.ctx.data_dir, f"docs{n}"), "documents")
        self.inputs["documents"] = {row: self.docs(row) for row in MEDIA_ROWS}
        self.order_rng = np.random.default_rng(self.ctx.seed + 7)
        self.expected: dict[tuple[str, str], tuple] = {}

    def row_dir(self, row: str) -> str:
        return os.path.join(self.ctx.data_dir, f"docs{self.docs(row)}")

    def unit(self, i: int, traced: bool) -> float:
        order = list(MEDIA_ROWS)
        self.order_rng.shuffle(order)
        t0 = time.perf_counter()
        for row in order:
            mod = MEDIA_ROWS[row]
            with self.span(f"{mod}.{row}", i):
                with self.span(f"{mod}.{row}.build", i):
                    df = QUERIES[row](self.spark, self.row_dir(row))
                with self.span(f"{mod}.{row}.action", i):
                    rows = df.collect()
                self.release(i, traced)
            cols = df.columns
            self.pending.append((f"{row} pass {i}", lambda r=row, c=cols, x=rows: self._check(r, c, x)))
        wall = time.perf_counter() - t0
        if traced:
            with self.span("sources.scan", i):
                for d in sorted({self.row_dir(row) for row in MEDIA_ROWS}):
                    _noop(load_table(self.spark, d, "documents"))
        return wall

    def _check(self, row: str, cols: list[str], rows: list[tuple]) -> str | None:
        key = (self.row_dir(row), ORACLES[row])  # rows sharing an oracle share its result
        if key not in self.expected:
            o = Oracle({"documents": os.path.join(key[0], "documents.parquet")})
            try:
                self.expected[key] = o.rows(key[1])
            finally:
                o.close()
        return compare(cols, rows, *self.expected[key])


WORKLOADS = {w.name: w for w in (NameJoin, Media)}
