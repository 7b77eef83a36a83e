"""One KG build, as the benchmark times it, and its output check.

A build is ``run_pipeline`` plus materializing ``edges`` and ``nodes``
through the noop sink. Each materialization carries a Spark ``Observation``
of its row count and hash sum, so the output check costs no extra job; the
comparison with the expectation happens after the timer stops.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from typing import Dict, Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kg_microbe_spark.plans.checkpoint import CheckpointManager
from kg_microbe_spark.plans.pipeline import run_pipeline

# The lexicon is fixed for the whole run, so warm builds may reuse the
# dimension and matcher broadcasts, as bench.py's warm builds do.
DIM_CACHE_KEY = "perfbench-lexicon-v1"


def hash32_col(*cols: str):
    """Spark twin of ``expect.hash32``."""
    return F.conv(F.substring(F.sha2(F.concat_ws("\t", *cols), 256), 1, 8), 16, 10).cast("long")


def observed_noop(df: DataFrame, *hash_cols: str, extra=()) -> Observation:
    """Materialize ``df`` through the noop sink, observing its row count and,
    if ``hash_cols`` are given, its hash sum."""
    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("count")]
    if hash_cols:
        exprs.append(F.coalesce(F.sum(hash32_col(*hash_cols)), F.lit(0)).alias("hash"))
    df.observe(obs, *exprs, *extra).write.format("noop").mode("overwrite").save()
    return obs


def check_outputs(edges_obs: Observation, nodes_obs: Observation, expected: Dict) -> Optional[str]:
    """None when the triple set and node set equal the expectation."""
    got_t = {k: int(v) for k, v in edges_obs.get.items()}
    got_n = {k: int(v) for k, v in nodes_obs.get.items()}
    if got_t != expected["triples"]:
        return f"triples {got_t} != expected {expected['triples']}"
    if got_n != expected["nodes"]:
        return f"nodes {got_n} != expected {expected['nodes']}"
    return None


class TimedCheckpointManager(CheckpointManager):
    """CheckpointManager that records the wall of each public call made by
    the pipeline (calls that ``write`` makes itself count toward the write)."""

    def __init__(self, spark, root: str, spans=None):
        super().__init__(spark, root)
        self.spans = spans
        self.walls: Dict[str, float] = {}
        self._depth = 0

    def _timed(self, name: str, fn, *args, **kw):
        if self._depth:
            return fn(*args, **kw)
        span = self.spans.start(name) if self.spans is not None else None
        self._depth += 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kw)
        finally:
            self._depth -= 1
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
            if span is not None:
                self.spans.end(span)

    def write(self, df, stage, input_fingerprint=""):
        return self._timed(f"checkpoint.{stage}.write", super().write, df, stage, input_fingerprint)

    def is_complete(self, stage, input_fingerprint=""):
        return self._timed("checkpoint.resume_read", super().is_complete, stage, input_fingerprint)

    def read(self, stage):
        return self._timed("checkpoint.resume_read", super().read, stage)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def build(spark, pages_path: str, lexicon, checkpoint: Optional[CheckpointManager] = None, spans=None) -> Dict:
    """Time one build. Returns walls plus the two output observations.
    With a tracer in ``spans`` the ``run_pipeline`` call is a span."""
    pages = spark.read.parquet(pages_path)
    t0 = time.perf_counter()
    with spans.span("pipeline.run_pipeline") if spans is not None else nullcontext():
        res = run_pipeline(
            spark, pages, lexicon, checkpoint=checkpoint,
            input_fingerprint=pages_path, dim_cache_key=DIM_CACHE_KEY,
        )
    t_plan = time.perf_counter() - t0
    edges_obs = observed_noop(res.edges, "subject", "predicate", "object")
    nodes_obs = observed_noop(res.nodes, "id")
    wall = time.perf_counter() - t0
    # After the timer: without this the next build's identical plan would be
    # served from this build's cached `entities` (bench.py does the same).
    res.entities.unpersist(blocking=True)
    return {"wall": wall, "plan": t_plan, "edges": edges_obs, "nodes": nodes_obs}


def drop_late_stages(root: str) -> None:
    """Delete the s6_*/s7_* stage outputs, as a crash after s5 would leave."""
    for name in os.listdir(root):
        if name.startswith(("s6_", "s7_")):
            shutil.rmtree(os.path.join(root, name))
