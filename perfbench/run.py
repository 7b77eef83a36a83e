"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 8 --trace 0

Prints diagnostics lines, then, as the last line of stdout, one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

PROCESS_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# ``--seconds`` sets the number of warm builds: seconds ÷ the nominal
# warm-build wall on a 4-core host (6-10 s on both workloads), and at least
# MIN_WARM_BUILDS. The count does not depend on how fast the host is that
# minute, so every run stops at the same point of the JIT warm-up curve
# (warm builds keep getting faster for ~10 builds) and its memory
# high-water mark covers the same work.
NOMINAL_BUILD_S = 8.0
MIN_WARM_BUILDS = 2
TRACED_BUILDS = 2
# Run-time guards (a run must end within 180 s even on a contended host):
# no further warm build after DEADLINE_S, no second traced pair after
# TRACE_DEADLINE_S.
DEADLINE_S = 150
TRACE_DEADLINE_S = 90
STAGES = ("s1_extract", "s3_mentions", "s5_entities", "s6_edges", "s7_edges_merged", "s7_nodes_merged")
LAYERS = ("session", "sources", "extract", "lexicon", "pipeline", "mentions",
          "linking", "triples", "merge", "checkpoint")


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - PROCESS_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Ops:
    """Attempted and failed operations; a failed check is a failed op."""

    def __init__(self):
        self.attempted = 0
        self.failures = []

    def record(self, name: str, error) -> bool:
        self.attempted += 1
        if error:
            self.failures.append(f"{name}: {error}")
            log(f"FAILED {name}: {error}")
        return not error


def self_checks(ops: Ops, workload: str, seed: int, stats: dict, exp: dict) -> None:
    """Seeded-generator checks, outside every timer."""
    from perfbench import corpus

    a = [corpus.page_record(workload, seed, i) for i in range(40)]
    b = [corpus.page_record(workload, seed, i) for i in range(40)]
    c = [corpus.page_record(workload, seed + 1, i) for i in range(40)]
    ops.record("generator_same_seed", None if a == b else "same seed gave different pages")
    ops.record("generator_new_seed", None if a != c else "different seeds gave identical pages")
    ents = exp["entities"] / max(exp["en_pages"], 1)
    if workload == "kg_dense":
        err = None if ents >= 20 else f"{ents:.1f} linked entities per page, want >= 20"
    else:
        problems = []
        if ents > 4:
            problems.append(f"{ents:.1f} linked entities per page, want <= 4")
        if stats["text_null"] * 2 <= stats["pages"]:
            problems.append("text is NULL on at most half the rows")
        if stats["html_main_bytes"] * 2 >= stats["html_bytes"]:
            problems.append("most html bytes lie inside <main>")
        err = "; ".join(problems) or None
    ops.record("generator_shape", err)


def make_corpus(workload: str, seed: int) -> dict:
    """Write the corpus and compute its expected outputs, outside every
    timer. Expectations are cached per (workload, seed, corpus shape); only
    the latest corpus of each workload is kept on disk."""
    from perfbench import corpus, expect

    key = f"{workload}-{seed}-{corpus.shape_key(workload)}"
    pages_path = os.path.join(WORK, "corpus", workload)
    stamp = os.path.join(pages_path, "_corpus_key")
    meta_path = os.path.join(WORK, "expect", f"{key}.json")
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if os.path.exists(stamp):
            with open(stamp) as f:
                if f.read() == key:
                    return meta
    records = corpus.generate(workload, seed)
    shutil.rmtree(pages_path, ignore_errors=True)
    stats = corpus.write_corpus(records, corpus.PROFILES[workload]["files"], pages_path)
    if meta is None:
        meta = {"pages_path": pages_path, "stats": stats, "expect": expect.compute(records)}
        os.makedirs(os.path.dirname(meta_path), exist_ok=True)
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    with open(stamp, "w") as f:
        f.write(key)
    return meta


def timed_launch(host, pages_path: str):
    """Set-up: fresh JVM → ready session → input registered."""
    from kg_microbe_spark.sources.synthetic import lexicon_df

    t0 = time.perf_counter()
    spark = host.launch()
    t_session = time.perf_counter() - t0
    spark.read.parquet(pages_path).schema  # noqa: B018 — lists files, reads a footer
    lexicon = lexicon_df(spark)
    return spark, lexicon, time.perf_counter() - t0, t_session


def ckpt_root(tag: str) -> str:
    root = os.path.join(WORK, "ckpt", tag)
    shutil.rmtree(root, ignore_errors=True)
    return root


def one_build(spark, workload: str, pages_path: str, lexicon, spans=None) -> dict:
    """One build on the workload's path: the default lazy/persist path on
    kg_dense, a CheckpointManager with a fresh root on kg_sparse_html.
    With a tracer in ``spans`` the checkpoint calls are timed too."""
    from kg_microbe_spark.plans.checkpoint import CheckpointManager

    from perfbench.builds import TimedCheckpointManager, build

    cm = None
    if workload == "kg_sparse_html":
        root = ckpt_root("build")
        cm = CheckpointManager(spark, root) if spans is None else TimedCheckpointManager(spark, root, spans)
    out = build(spark, pages_path, lexicon, checkpoint=cm, spans=spans)
    out["cm"] = cm
    return out


def cold_build(ops: Ops, spark, args, meta: dict, lexicon, spans=None) -> dict:
    """First build of a fresh session (cold codegen, empty dimension and
    matcher caches); it is also the warm-up of the builds that follow."""
    from perfbench.builds import check_outputs

    b = one_build(spark, args.workload, meta["pages_path"], lexicon, spans)
    ops.record("cold_build", check_outputs(b["edges"], b["nodes"], meta["expect"]))
    log(f"cold build {b['wall']:.2f}s (plan {b['plan']:.2f}s)")
    return b


def run_untraced(args, host, meta: dict, ops: Ops):
    from perfbench.builds import check_outputs
    from perfbench.host import cpu_ticks, cpu_window

    spark, lexicon, t_setup, _ = timed_launch(host, meta["pages_path"])
    log(f"setup {t_setup:.2f}s")
    diag = {"versions": host.versions()}
    ticks0 = cpu_ticks()
    cold = cold_build(ops, spark, args, meta, lexicon)
    warm = []
    n_builds = max(MIN_WARM_BUILDS, round(args.seconds / NOMINAL_BUILD_S))
    for n in range(1, n_builds + 1):
        if n > MIN_WARM_BUILDS and time.time() - PROCESS_START > DEADLINE_S:
            break
        try:
            b = one_build(spark, args.workload, meta["pages_path"], lexicon)
        except Exception:  # noqa: BLE001 — a build that raises is a failed operation
            ops.record(f"warm_build_{n}", traceback.format_exc())
            continue
        if ops.record(f"warm_build_{n}", check_outputs(b["edges"], b["nodes"], meta["expect"])):
            warm.append(b["wall"])
        log(f"warm build {b['wall']:.2f}s (plan {b['plan']:.2f}s)")
    if not warm:
        raise RuntimeError("no warm build succeeded: " + "; ".join(ops.failures))
    diag["cpu"] = cpu_window(ticks0, cpu_ticks())
    diag["warm_walls_s"] = warm
    diag["rss_mb_by_pid"] = rss = host.peak_rss_mb()
    values = {
        "pages_per_s": meta["stats"]["pages"] / statistics.median(warm),
        "cold_wall_s": cold["wall"],
        "setup_s": t_setup,
        "peak_rss_mb": sum(rss.values()),
    }
    return values, diag


def run_traced(args, host, meta: dict, ops: Ops):
    from perfbench import trace
    from perfbench.builds import TimedCheckpointManager, build, check_outputs, dir_bytes, drop_late_stages
    from perfbench.host import cpu_ticks, cpu_window

    pages_path, stats, exp = meta["pages_path"], meta["stats"], meta["expect"]
    spark, lexicon, t_setup, t_session = timed_launch(host, pages_path)
    tr = trace.Tracer(spark.sparkContext)
    tr.record_setup("session", t_setup)
    diag = {"versions": host.versions(), "setup_s": t_setup}
    ticks0 = cpu_ticks()
    m = {"session.start_s": t_session, "sources.input_mb": stats["input_bytes"] / 1e6}

    tr.new_trace("cold")
    cold = cold_build(ops, spark, args, meta, lexicon, spans=tr)
    m["pipeline.plan_cold_s"] = cold["plan"]
    dims = trace.build_dims(tr, lexicon)
    m["lexicon.build_s"] = tr.spans[-1]["end"] - tr.spans[-1]["start"]

    # Untraced reference builds, interleaved with the traced builds so that
    # JIT warm-up and host drift touch both alike. On the checkpointed
    # workload the timed subclass separates driver planning from writes.
    refs, plans, traced = [], [], []
    for i in range(TRACED_BUILDS):
        if i and time.time() - PROCESS_START > TRACE_DEADLINE_S:
            break
        tr.new_trace("warm")
        b = one_build(spark, args.workload, pages_path, lexicon, spans=tr)
        ops.record(f"warm_build_{i}", check_outputs(b["edges"], b["nodes"], exp))
        refs.append(b["wall"])
        plans.append(b["plan"] - sum(b["cm"].walls.values()) if b["cm"] else b["plan"])
        log(f"reference build {b['wall']:.2f}s (plan {plans[-1]:.2f}s)")
        cm = None
        if args.workload == "kg_sparse_html":
            cm = TimedCheckpointManager(spark, ckpt_root("traced"), spans=tr)
        t = trace.traced_build(tr, spark, pages_path, dims, cm=cm)
        ops.record(f"traced_build_{i}", check_outputs(t["edges"], t["nodes"], exp))
        traced.append(t)
        log(f"traced build {t['traced_wall']:.2f}s")
    m["pipeline.plan_warm_s"] = statistics.median(plans)
    ref_wall = statistics.median(refs)
    for k in traced[0]["self"]:
        m[k] = statistics.median(t["self"][k] for t in traced)
    m.update(traced[0]["counts"])
    layer_sum = sum(m[k] for k in traced[0]["self"]) + m["pipeline.plan_warm_s"]
    m["trace.coverage"] = layer_sum / ref_wall
    m["trace.overhead"] = statistics.median(t["traced_wall"] for t in traced) / ref_wall - 1.0

    # Checkpoint layer, on both workloads: a checkpointed build (on
    # kg_sparse_html the last reference build is one), then a resume after
    # its s6_*/s7_* outputs are deleted, which must reproduce its outputs.
    cm = b["cm"]
    if cm is None:
        tr.new_trace("checkpoint")
        cm = TimedCheckpointManager(spark, ckpt_root("build"), spans=tr)
        b = build(spark, pages_path, lexicon, checkpoint=cm, spans=tr)
        ops.record("checkpoint_build", check_outputs(b["edges"], b["nodes"], exp))
    root = cm.root
    for stage in STAGES:
        m[f"checkpoint.{stage}.write_s"] = cm.walls[f"checkpoint.{stage}.write"]
        m[f"checkpoint.{stage}.mb"] = dir_bytes(os.path.join(root, stage)) / 1e6
    m["checkpoint.bytes_per_input_byte"] = dir_bytes(root) / stats["input_bytes"]
    drop_late_stages(root)
    tr.new_trace("resume")
    cm = TimedCheckpointManager(spark, root, spans=tr)
    r = build(spark, pages_path, lexicon, checkpoint=cm, spans=tr)
    ops.record("resume", check_outputs(r["edges"], r["nodes"], exp))
    m["checkpoint.resume_wall_s"] = r["wall"]
    m["checkpoint.resume_read_s"] = cm.walls.get("checkpoint.resume_read", 0.0)
    log(f"resume {r['wall']:.2f}s")

    diag["cpu"] = cpu_window(ticks0, cpu_ticks())
    diag["reference_walls_s"] = refs
    for layer in LAYERS:
        spans = [s for s in tr.spans if s["name"].split(".")[0] == layer]
        m[f"{layer}.tasks"] = sum(s["tasks"] for s in spans)
        m[f"{layer}.failed_tasks"] = sum(s["failed_tasks"] for s in spans)
    tr.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    return m, diag


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import kg_microbe_spark.plans.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import corpus
    from perfbench.host import Host

    if args.workload not in corpus.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {corpus.WORKLOADS}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    os.makedirs(WORK, exist_ok=True)
    meta = make_corpus(args.workload, args.seed)
    ops = Ops()
    self_checks(ops, args.workload, args.seed, meta["stats"], meta["expect"])
    log(f"corpus ready: {meta['stats']}")

    host = Host(WORK, ROOT)
    try:
        run = run_traced if args.trace else run_untraced
        values, diag = run(args, host, meta, ops)
    except Exception:  # noqa: BLE001 — a crashed run is reported, never silent
        traceback.print_exc()
        return 1
    finally:
        host.shutdown()
        shutil.rmtree(os.path.join(WORK, "ckpt"), ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    with open("/proc/loadavg") as f:
        diag["loadavg"] = f.read().split()[:3]
    diag["nproc"] = len(os.sched_getaffinity(0))
    diag["failures"] = ops.failures
    print(json.dumps({"diagnostics": diag}))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": not ops.failures,
        "attempted": ops.attempted,
        "failed": len(ops.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
