"""Per-layer tracing from outside the program.

Spark is lazy, so a layer cannot be timed by wrapping its function call.
The traced build therefore re-runs ``run_pipeline``'s chain of public
calls as cumulative prefixes, in ``run_pipeline``'s own order, and
materializes each prefix through the noop sink. A layer's self time is its
prefix's wall minus the previous prefix's wall; the chain restarts at zero
wherever the pipeline itself cuts lineage (the persisted ``entities`` frame,
or a checkpoint read-back). With a checkpoint manager each stage is written
before the prefixes that end in it run, so the write computes its input as
the checkpointed pipeline's write does; the checkpoint layer's self time is
each write's wall minus the wall of its stage's prefix.

Each span records its name, start, end, parent and the trace id of its
build, and runs under its own Spark job group so that its task counts can
be read from ``SparkContext.statusTracker()``. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kg_microbe_spark.operators.calibration import apply_threshold
from kg_microbe_spark.operators.extract import dedup_pages_by_url, extract_pages, split_by_lang
from kg_microbe_spark.operators.lexicon import build_name_index, build_xref_routing, enrich_synonyms
from kg_microbe_spark.operators.linking import canonicalize_entities, link_mentions
from kg_microbe_spark.operators.mentions import scan_mentions
from kg_microbe_spark.operators.merge import merge_edges, merge_nodes, to_kgx_edges, to_kgx_nodes
from kg_microbe_spark.operators.triples import (
    assign_predicates,
    generate_pairs,
    score_and_provenance,
    split_pairs,
)
from kg_microbe_spark.plans.pipeline import _predicate_dims
from kg_microbe_spark.sources import synthetic

from perfbench.builds import DIM_CACHE_KEY, observed_noop


def _task_counts(st, job_ids) -> tuple:
    """(completed, failed) tasks over the stages of ``job_ids``."""
    tasks = failed = 0
    for job in job_ids:
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return tasks, failed


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[Dict] = []
        self.trace_id = "setup"
        self._ids = itertools.count()
        self._stack: List[Dict] = []

    def record_setup(self, name: str, wall: float) -> None:
        """Span for the set-up that ran before the tracer existed; its tasks
        are those of the jobs run outside any job group so far."""
        st = self.sc.statusTracker()
        now = time.time()
        span = {"name": name, "trace": self.trace_id, "id": next(self._ids), "parent": None,
                "start": now - wall, "end": now, "group": None}
        span["tasks"], span["failed_tasks"] = _task_counts(st, st.getJobIdsForGroup(None))
        self.spans.append(span)

    def new_trace(self, name: str) -> None:
        self.trace_id = f"{name}-{next(self._ids)}"

    def start(self, name: str) -> Dict:
        span = {
            "name": name,
            "trace": self.trace_id,
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
        }
        span["group"] = f"{self.trace_id}/{span['id']}"
        self.sc.setJobGroup(span["group"], name)
        self._stack.append(span)
        return span

    def end(self, span: Dict) -> Dict:
        span["end"] = time.time()
        self._stack.remove(span)
        st = self.sc.statusTracker()
        span["tasks"], span["failed_tasks"] = _task_counts(st, st.getJobIdsForGroup(span["group"]))
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str):
        s = self.start(name)
        try:
            yield s
        finally:
            self.end(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _localize(df):
    """Collect a small dimension and rebuild it as a local relation, as the
    pipeline does for its lexicon dimensions."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def build_dims(tr: Tracer, lexicon) -> Dict:
    """The ``lexicon`` layer: build and collect the three dimensions."""
    stop = tuple(synthetic.STOPWORDS)
    with tr.span("lexicon"):
        return {
            "name_index": _localize(build_name_index(lexicon, stop)),
            "xref_routing": _localize(build_xref_routing(lexicon)),
            "syn_sets": _localize(
                enrich_synonyms(lexicon).select(
                    F.col("curie").alias("id"), F.array_join("synonyms", "|").alias("_syn")
                )
            ),
        }


def traced_build(tr: Tracer, spark, pages_path: str, dims: Dict, cm=None) -> Dict:
    """One traced build. ``cm`` (a TimedCheckpointManager) publishes each
    stage as the checkpointed pipeline does. Returns the layers' self times,
    derived row counts, the traced wall, and the output observations of the
    merged edges and nodes."""
    tr.new_trace("build")
    walls: Dict[str, float] = {}
    obs: Dict[str, object] = {}
    fp = pages_path
    ckpt_walls: Dict[str, float] = {}

    def prefix(name, df, *hash_cols, extra=()):
        with tr.span(name) as s:
            obs[name] = observed_noop(df, *hash_cols, extra=extra)
        walls[name] = s["end"] - s["start"]

    def publish(df, stage):
        """Write ``stage`` before its prefixes run, so that the write, like
        the checkpointed pipeline's, computes its input on cold caches."""
        if cm is None:
            return df
        t0 = time.perf_counter()
        out = cm.write(df, stage, fp)
        ckpt_walls[stage] = time.perf_counter() - t0
        return out

    with tr.span("traced_build"):
        pages = spark.read.parquet(pages_path)
        dedup = dedup_pages_by_url(pages)
        extracted = extract_pages(dedup)
        published = publish(extracted, "s1_extract")
        prefix("sources", pages)
        prefix("extract.dedup", dedup, extra=[F.sum(F.col("text").isNull().cast("long")).alias("html_rows")])
        prefix("extract.html", extracted, extra=[F.sum((F.col("lang") == "en").cast("long")).alias("en")])
        extracted = published
        en_pages, _skipped = split_by_lang(extracted)
        mentions = scan_mentions(
            en_pages, dims["name_index"], max_broadcast_patterns=None,
            matcher_cache_key=f"{DIM_CACHE_KEY}/matcher",
        )
        published = publish(mentions, "s3_mentions")
        prefix("mentions", mentions)
        mentions = published
        raw = link_mentions(mentions.select("url", "term_norm", F.lit(1).alias("n_mentions")), dims["name_index"])
        entities = canonicalize_entities(raw, dims["xref_routing"])
        if cm is None:
            entities = entities.persist(StorageLevel.MEMORY_AND_DISK)
        published = publish(entities, "s5_entities")
        prefix("linking", entities)
        entities = published
        curated, defaults = _predicate_dims(spark)
        pairs = generate_pairs(entities)
        kept, _drops = split_pairs(pairs)
        scored = apply_threshold(score_and_provenance(assign_predicates(kept, curated, defaults)), None, 0.0)
        kgx_edges = to_kgx_edges(scored).withColumn("n_cooccur", F.lit(1))
        published = publish(kgx_edges, "s6_edges")
        prefix("triples.pairs", pairs)
        prefix("triples.score", kgx_edges)
        kgx_edges = published
        edges = merge_edges([kgx_edges])
        published = publish(edges, "s7_edges_merged")
        prefix("merge.edges", edges, "subject", "predicate", "object")
        edges = published
        entity_nodes = to_kgx_nodes(
            entities.withColumn(
                "primary_knowledge_source",
                F.concat(F.lit("infores:"), F.regexp_extract("url", r"https://(site\d+)\.", 1)),
            )
        )
        node_cols = entity_nodes.columns
        entity_nodes = (
            entity_nodes.drop("synonym")
            .join(F.broadcast(dims["syn_sets"]), "id", "left")
            .withColumn("synonym", F.coalesce("_syn", F.lit("")))
            .select(*node_cols)
        )
        nodes = merge_nodes([entity_nodes])
        published = publish(nodes, "s7_nodes_merged")
        prefix("merge.nodes", nodes, "id")
        nodes = published
        if cm is not None:
            with tr.span("checkpoint.final_read") as s:
                obs["final_edges"] = observed_noop(edges, "subject", "predicate", "object")
                obs["final_nodes"] = observed_noop(nodes, "id")
            walls["checkpoint.final_read"] = s["end"] - s["start"]
        if cm is None:
            entities.unpersist(blocking=True)

    counts = {k: {c: int(v or 0) for c, v in o.get.items()} for k, o in obs.items()}
    w = walls
    cut = cm is not None  # a checkpoint read-back restarts the chain at zero
    self_s = {
        "sources.self_s": w["sources"],
        "extract.dedup_s": w["extract.dedup"] - w["sources"],
        "extract.html_s": w["extract.html"] - w["extract.dedup"],
        "mentions.self_s": w["mentions"] - (0.0 if cut else w["extract.html"]),
        "linking.self_s": w["linking"] - (0.0 if cut else w["mentions"]),
        "triples.pairs_s": w["triples.pairs"],
        "triples.score_s": w["triples.score"] - w["triples.pairs"],
        "merge.edges_s": w["merge.edges"] - (0.0 if cut else w["triples.score"]),
        "merge.nodes_s": w["merge.nodes"],
    }
    if cut:
        before = {
            "s1_extract": "extract.html", "s3_mentions": "mentions", "s5_entities": "linking",
            "s6_edges": "triples.score", "s7_edges_merged": "merge.edges", "s7_nodes_merged": "merge.nodes",
        }
        self_s["checkpoint.self_s"] = w["checkpoint.final_read"] + sum(
            ckpt_walls[st] - w[p] for st, p in before.items()
        )
    else:
        self_s["checkpoint.self_s"] = 0.0
    c = counts
    derived = {
        "extract.dup_rows": c["sources"]["count"] - c["extract.dedup"]["count"],
        "extract.html_rows": c["extract.dedup"]["html_rows"],
        "extract.skipped_pages": c["extract.html"]["count"] - c["extract.html"]["en"],
        "mentions.rows_out": c["mentions"]["count"],
        "mentions.per_page": c["mentions"]["count"] / max(c["extract.html"]["en"], 1),
        "linking.rows_out": c["linking"]["count"],
        "linking.yield": c["linking"]["count"] / max(c["mentions"]["count"], 1),
        "triples.pairs_out": c["triples.pairs"]["count"],
        "triples.kept_ratio": c["triples.score"]["count"] / max(c["triples.pairs"]["count"], 1),
        "merge.edges_out": c["merge.edges"]["count"],
        "merge.dedup_ratio": c["merge.edges"]["count"] / max(c["triples.score"]["count"], 1),
    }
    total = sum(w.values()) + sum(ckpt_walls.values())
    return {
        "self": self_s,
        "counts": derived,
        "traced_wall": total,
        "edges": obs["final_edges" if cut else "merge.edges"],
        "nodes": obs["final_nodes" if cut else "merge.nodes"],
    }
