"""Workload ``registry``: drained registry queries on the sf0.01 fixture.

Relational queries (Catalyst planning, stages, shuffle, the Parquet
scan) and LLM-pipeline operators that persist intermediates through
``cachepool`` (d24) or cross the Python/Arrow boundary (m21, the
mapInPandas WebP codec lane).  A pass takes about three seconds on
four cores; a run holds at least ``harness.MIN_PASSES`` passes and
reports medians.  Each op's timed action is its registry builder plus
``toPandas()``, which executes the full optimized plan and brings the
result to the driver; the timed drain is never a ``count()``.  One
builder executes work itself (``EAGER_BUILDERS``): d24 persists its
intermediate and materializes it with ``count()``.  Its builder time is
reported apart from plan building.  The first result of each op is
compared with the query's DuckDB oracle in ``scripts/driver_sim.canon``
form, and every later result with that first one."""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time

from perfbench import harness

# op → registry query
QUERIES = {
    "q01": "q01_pricing_summary",
    "q24": "q24_window_running",
    "d24": "d24_exact_substring_dedup",
    "m21": "m21_webp_lossless_decode",
}
OPS = list(QUERIES)
# ops whose builder executes Spark work before the timed drain: their
# builder span is ``spark.eager_build``, not ``plan.build``, and their
# plan facts (which would describe only the final read) are left out
EAGER_BUILDERS = ("d24",)
TIMED_ACTION = "builder(spark, sf_dir).toPandas() full drain"
# warm-up rounds before timing: the ops are mostly per-query overhead
# (planning, scheduling), whose code paths the JIT keeps compiling for a
# minute or more of repeated runs.  Two rounds take the steepest part of
# that curve (the first round runs about twice as long as a settled
# one); the median over a run's passes absorbs the slower first passes.
WARM_ROUNDS = 2


def sf_dir() -> str:
    """The sf0.01 fixture tables (TESTDATA.md), as the repo's tests name
    them."""
    from tests.conftest import SF_CORRECT

    return SF_CORRECT


def canon_digest(pdf) -> str:
    """sha256 of ``driver_sim.canon``'s order-independent form."""
    from scripts.driver_sim import canon

    return hashlib.sha256(repr(canon(pdf)).encode()).hexdigest()


def frame_digest(pdf) -> tuple[int, int]:
    """Row count and the wrapping sum of per-row hashes over the columns
    in name order: equal for equal results in any row order, and cheap
    enough to take on every result."""
    import numpy as np
    import pandas as pd

    hashes = pd.util.hash_pandas_object(pdf[sorted(pdf.columns)], index=False)
    return len(pdf), int(hashes.to_numpy().sum(dtype=np.uint64))


def drain(df):
    """The timed action: execute the full optimized plan and bring the
    result to the driver."""
    return df.toPandas()


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_phases(df) -> dict[str, float]:
    """Seconds per ``QueryExecution`` phase (analysis, optimization,
    planning) from Spark's own phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def plan_nodes(df) -> int:
    """Operator count of the executed (final adaptive) plan: one tree
    line per node, section headers and the initial plan left out."""
    final = executed_plan(df).split("== Initial Plan ==")[0]
    return sum(1 for line in final.splitlines() if line.strip() and "==" not in line)


class Registry:
    """Ops and checks of one ``registry`` run."""

    def __init__(self, spark, tracer: harness.Tracer) -> None:
        from flaco_spark.inventory import load_inventory

        self.spark = spark
        self.tracer = tracer
        self.sf_dir = sf_dir()
        self.registry = load_inventory()
        # op → (op_id, frame digest, canon digest) of its first result
        self.first: dict[str, tuple[str, tuple[int, int], str]] = {}
        self.failures: list[str] = []
        self.layers: dict[str, float] = {}
        self._pending = None

    def _add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def run_op(self, op: str, op_id: str) -> int:
        """One timed op; returns the rows it delivered."""
        tr = self.tracer
        with tr.span(f"op.{op}", op_id):
            with tr.span("spark.eager_build" if op in EAGER_BUILDERS else "plan.build"):
                df = self.registry[QUERIES[op]].builder(self.spark, self.sf_dir)
            with tr.span("spark.drain"):
                pdf = drain(df)
        self._pending = (df, pdf)
        return len(pdf)

    def check(self, op: str, op_id: str) -> None:
        """Untimed: an op's first result is kept in canon form for the
        oracle (:meth:`verify_oracles`); every later one must equal it.
        A traced run also collects plan and cache facts here."""
        df, pdf = self._pending
        self._pending = None
        digest = frame_digest(pdf)
        if op not in self.first:
            self.first[op] = (op_id, digest, canon_digest(pdf))
        elif digest != self.first[op][1]:
            self.failures.append(f"{op_id}: result differs from {self.first[op][0]}'s")
        if self.tracer.enabled:
            if op not in EAGER_BUILDERS:
                for phase, secs in plan_phases(df).items():
                    self._add(f"plan.{phase}_s", secs)
                self._add("plan.nodes", float(plan_nodes(df)))
            sc = self.spark.sparkContext._jsc.sc()
            stored = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo())
            for key, value in (("cache.persisted_rdds_after_op", sc.getPersistentRDDs().size()),
                               ("cache.storage_bytes", stored)):
                self.layers[key] = max(self.layers.get(key, 0.0), float(value))

    def verify_oracles(self) -> None:
        """Compare each op's first result with its DuckDB oracle; the
        later results equal it (:meth:`check`)."""
        import duckdb

        from scripts.driver_sim import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES.split():
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for op, (op_id, _, digest) in self.first.items():
                want = canon_digest(con.execute(self.registry[QUERIES[op]].oracle).df())
                if digest != want:
                    self.failures.append(f"{op_id}: result differs from the DuckDB oracle")
        finally:
            con.close()


def run(ctx, spark) -> dict:
    """Warm up, measure, check; returns the workload's record (see
    ``run.py``)."""
    from flaco_spark.tables import register_views

    tracer = harness.Tracer(False)  # the warm-up is never traced
    rng = random.Random(ctx.seed)
    t0 = time.perf_counter()
    register_views(spark, sf_dir())
    register_views_s = time.perf_counter() - t0

    bench = Registry(spark, tracer)
    first_op_s = harness.warm_up(OPS, bench.run_op, bench.check, WARM_ROUNDS)
    tracer.enabled = ctx.trace
    setup_s = time.time() - ctx.process_start
    harness.log(f"set up in {setup_s:.1f}s (first op {first_op_s:.1f}s)")

    measured = harness.measure_passes(OPS, bench.run_op, bench.check, ctx.seconds, rng)
    harness.log(f"measured at {time.time() - ctx.process_start:.1f}s")
    bench.verify_oracles()
    harness.log(f"oracles checked at {time.time() - ctx.process_start:.1f}s")

    layers = dict(bench.layers)
    layers["tables.register_views_s"] = register_views_s
    if ctx.trace:
        layers.update(_codec_probe(ctx.seed, bench.failures))
    return {
        "measured": measured,
        "setup_s": setup_s,
        "first_op_s": first_op_s,
        "failures": bench.failures,
        "tracer": tracer,
        "layers": layers,
        "stamps": {"sf_dir": os.path.basename(sf_dir())},
    }


def _codec_probe(seed: int, failures: list[str]) -> dict[str, float]:
    """Public ``decode_webp`` on a seeded image set: lossless (VP8L)
    images must decode to their exact pixels, lossy (VP8) ones to their
    dimensions.  Reports the median decode time per image."""
    import numpy as np

    from flaco_spark.sources.vp8_codec import encode_webp_lossy
    from flaco_spark.sources.webp_codec import decode_webp, encode_webp_lossless

    rng = np.random.default_rng(seed)
    w, h = 96, 64
    lossless, lossy = [], []
    for _ in range(6):
        # gradients plus noise: compressible, but not trivially
        ramp = np.add.outer(np.arange(h), np.arange(w)) * int(rng.integers(1, 4))
        rgb = np.stack([ramp, ramp[::-1], ramp[:, ::-1]], axis=-1)
        rgb = ((rgb + rng.integers(0, 8, rgb.shape)) % 256).astype(np.uint8)
        pix = rgb.tobytes()
        lossless.append((encode_webp_lossless(pix, w, h, 3), pix))
        lossy.append((encode_webp_lossy(pix, w, h), None))
    out = {}
    for key, items in (("codec.webp_lossless_decode_s", lossless), ("codec.vp8_decode_s", lossy)):
        times = []
        for data, want in items:
            t0 = time.perf_counter()
            dw, dh, ch, got = decode_webp(data)
            times.append(time.perf_counter() - t0)
            rgb = np.frombuffer(bytes(got), np.uint8).reshape(-1, ch)[:, :3].tobytes()
            if (dw, dh) != (w, h) or (want is not None and rgb != want):
                failures.append(f"{key}: decoded image differs")
        out[key] = statistics.median(times)
    return out
