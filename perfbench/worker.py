"""One benchmark run of one workload, in a fresh process and JVM.

Started by ``run.py``, which samples this process tree's memory from outside.

``batch_planted`` makes back-to-back ``run_dedup`` calls over the corpus:

1. setup (reported as ``setup_s``): start the Spark session, scan the input,
   and make one untimed warm-up call on a tenth of the corpus. The first
   call in a fresh JVM pays one-time costs (code generation, JIT
   compilation, Python worker start) that hardly depend on the input's size.
2. measure: call until ``--seconds`` have passed, at least once. ``wall_s``
   is the median wall of the calls, ``turns_per_s`` the corpus's turns over
   it.

``stream_append`` feeds the corpus to ``IncrementalDedup.process_batch`` as
one closed-loop client: it sends the next micro-batch only after the
previous one has committed.

1. setup: start the session, scan the input, carve the micro-batches, and
   stream two untimed warm-up micro-batches (cut from a tenth of the corpus)
   into a throwaway index, so that the empty-index path, the probe path and
   compaction have each run once.
2. measure: stream the ``workloads.STREAM_BATCHES`` micro-batches into a
   fresh index; compaction fires inside this window. ``wall_s`` is the
   mean micro-batch latency (to its done-marker), ``turns_per_s`` the
   corpus's turns over the summed latencies. The mean, not the median: the
   batches differ in kind (empty index, compaction, probe), and the median
   of three would be one batch's latency alone. The stream has a fixed length,
   so that its output can be checked; ``--seconds`` does not change it.

Lines ``@measure-start`` and ``@measure-end`` on stdout bracket the measure
window for the memory sampler. Then, untimed, the run checks its outputs:

* the cluster partition (for the stream: connected components of its
  duplicate pairs, plus the pairs themselves) digests to the same checksum
  on every call of the run, and to the one ``expected.json`` records for the
  seed, if it records one;
* the contract recall on the planted duplicate families reaches
  ``RECALL_MIN``;
* every edge the clusters rest on joins two documents whose exact Jaccard,
  computed again from their stored shingles, reaches the threshold.

With ``--trace 1``, ``batch_planted`` makes one more, full, warm-up call; the
measure window alternates plain and traced calls (at least plain, traced,
plain), and the run reports per-layer figures of the last traced call, plus
the traced minus the plain median wall as the tracing overhead.
``stream_append`` labels each micro-batch's Spark jobs with their batch and
reports per-batch figures from the event log. A workload reports 0 for the
layers it does not run. The last stdout line is this run's JSON result.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from types import SimpleNamespace

# the benchmark package is importable when this file runs as a script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import procfs, trace, workloads  # noqa: E402

RECALL_MIN = 0.99
MAX_FAILED = 3
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")


def _spark(cores: int, event_log_dir: str | None):
    from lsh_cascade_poc_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def _label(sc, group: str | None) -> None:
    """Put this thread's next jobs in a job group (None: in none). Clears
    the job description a traced call leaves behind."""
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.setLocalProperty("spark.job.description", None)


def digest(res) -> dict:
    """Order-free digest of the cluster partition. bit_xor, not sum: ANSI
    mode raises on the int64 overflow a sum of hashes hits."""
    from pyspark.sql import functions as F

    return res.clusters.agg(
        F.bit_xor(F.xxhash64("doc_id", "cluster_id")).alias("xor"),
        F.count(F.lit(1)).alias("docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    ).collect()[0].asDict()


def weak_edges(res, cfg) -> int:
    """Clustering edges whose exact Jaccard, computed again from the stored
    shingles of both documents' exact-group roots, is below the threshold
    (or cannot be computed). An engine that merges too much shows here even
    where recall holds."""
    from pyspark.sql import functions as F

    from lsh_cascade_poc_spark.functions.shingles import jaccard_on_shingle_arrays

    edges = res.dup_pairs if cfg.cluster_on_overlap \
        else res.dup_pairs.filter(F.col("jaccard") >= 0)
    roots = res.docs.select("doc_id", "_root")
    sh = res.signatures.select(F.col("doc_id").alias("_root"), "shingles")
    for side in ("a", "b"):
        edges = edges.join(
            roots.withColumnsRenamed({"doc_id": f"id_{side}", "_root": f"r_{side}"}),
            f"id_{side}", "left",
        ).join(
            sh.withColumnsRenamed({"_root": f"r_{side}", "shingles": f"s_{side}"}),
            f"r_{side}", "left",
        )
    j = F.when(F.col("r_a") == F.col("r_b"), F.lit(1.0)) \
        .otherwise(jaccard_on_shingle_arrays(F.col("s_a"), F.col("s_b")))
    return edges.filter(j.isNull() | (j < cfg.jaccard_threshold)).count()


def expected_digest(workload: str, seed: int) -> dict | None:
    with open(EXPECTED, encoding="utf-8") as f:
        return json.load(f).get(workload, {}).get(str(seed))


def check(res, digests: list[dict], expected: dict | None, cfg) -> dict:
    """Output checks of a run, given its last result and the digest of
    every result it produced."""
    from lsh_cascade_poc_spark.recall import recall_report

    recall = recall_report(res, cfg)["contract_recall"] or 0.0
    weak = weak_edges(res, cfg)
    same = all(d == digests[0] for d in digests)
    ok = (same and (expected is None or digests[0] == expected)
          and recall >= RECALL_MIN and weak == 0)
    return {"ok": ok, "recall": recall, "weak_edges": weak, "digest": digests[0],
            "digests_repeat": same,
            "expected": None if expected is None else digests[0] == expected}


def funnel(store, cfg) -> dict[str, float]:
    """Candidate funnel and hot-key drops, counted from the stage tables one
    traced run_dedup call left behind."""
    from pyspark.sql import functions as F

    from lsh_cascade_poc_spark.operators.bands import explode_bands

    sources = ("minhash", "simhash", "overlap")
    tagged = None
    for s in sources:
        t = store.load(f"pairs_{s}").select(
            "id_a", "id_b", *[F.lit(int(s == o)).alias(o) for o in sources])
        tagged = t if tagged is None else tagged.unionByName(t)
    verified = store.load("dup_pairs").filter(F.col("jaccard") >= 0) \
        .select("id_a", "id_b", F.lit(1).alias("ok"))
    cands = tagged.groupBy("id_a", "id_b").agg(*[F.max(s).alias(s) for s in sources]) \
        .join(verified, ["id_a", "id_b"], "left").fillna(0, ["ok"])
    row = cands.agg(
        F.count(F.lit(1)).alias("n"), F.sum("ok").alias("ok"),
        *[F.sum(s).alias(s) for s in sources],
        *[F.sum(F.col(s) * F.col("ok")).alias(s + "_ok") for s in sources],
    ).collect()[0]

    def frac(a, b):
        return float(a or 0) / b if b else 0.0

    out = {"funnel.candidates": float(row["n"]),
           "funnel.yield": frac(row["ok"], row["n"])}
    for s in sources:
        out[f"funnel.{s}_verified_frac"] = frac(row[s + "_ok"], row[s])

    # the coarse band self-join's output size, known before it runs: the
    # sum over pairable buckets (2..hot_band_cap docs) of C(n, 2)
    buckets = explode_bands(
        store.load("signatures"), "minhash", tier=0,
        n_bands=cfg.coarse_n_bands, rows_per_band=cfg.coarse_rows_per_band,
    ).groupBy("band_id", "band_key").count()
    out["funnel.coarse_pairs_predicted"] = float(
        buckets.filter((F.col("count") >= 2) & (F.col("count") <= cfg.hot_band_cap))
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0] or 0)

    hot = store.load("hot_band_drops").agg(
        F.count(F.lit(1)), F.sum("n_docs")).collect()[0]
    out["hot.band_buckets_dropped"] = float(hot[0])
    out["hot.band_docs_dropped"] = float(hot[1] or 0)
    # the engine does not record this drop: fingerprints shared by more docs
    # than overlap_hot_cap never reach the overlap self-join
    out["hot.overlap_fps_dropped"] = float(
        store.load("overlap_fps").groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("n"))
        .filter(F.col("n") > cfg.overlap_hot_cap).count())
    return out


def store_sizes(store) -> dict[str, float]:
    """Rows and files each stage committed (the store's own metric rows),
    and its bytes on disk."""
    out = {}
    for r in store.metrics().collect():
        out[f"{r.stage}.rows_out"] = float(r.rows_out)
        out[f"{r.stage}.files"] = float(r.n_partitions)
        out[f"{r.stage}.bytes_out"] = float(store.stage_size_bytes(r.stage))
    return out


def run_batch(args, spark, turns, cfg, t_setup: float) -> dict:
    from lsh_cascade_poc_spark.checkpoint import StageStore
    from lsh_cascade_poc_spark.pipeline import run_dedup

    work = args.work_dir
    sc = spark.sparkContext
    calls, failed, digests = 0, 0, []

    def call(df, traced: bool = False, checked: bool = True) -> dict | None:
        """One run_dedup call; None if it crashed. Its stage tables stay on
        disk until drop()."""
        nonlocal calls, failed
        calls += checked
        group = f"call{calls}" if checked else "warm"
        store_cls = trace.TracingStageStore if traced else StageStore
        store = store_cls(spark=spark, work_dir=os.path.join(work, group),
                          config_hash="run")
        # the group only: a group description would label every job that
        # no stage span covers
        _label(sc, group)
        try:
            cpu0 = procfs.cpu_seconds(os.getpid())
            t0 = time.perf_counter()
            res = run_dedup(spark, df, cfg, store=store)
            wall = time.perf_counter() - t0
            cpu = procfs.cpu_seconds(os.getpid()) - cpu0
            _label(sc, None)
            if checked:
                digests.append(digest(res))
        except Exception as exc:  # noqa: BLE001 - a crash is a failed call
            _label(sc, None)
            print(f"{group} failed: {exc!r}", file=sys.stderr, flush=True)
            failed += checked
            shutil.rmtree(store.work_dir, ignore_errors=True)
            return None
        return {"group": group, "wall": wall, "cpu": cpu, "store": store,
                "res": res}

    def drop(c: dict | None) -> None:
        if c is not None:
            shutil.rmtree(c["store"].work_dir, ignore_errors=True)
            gc.collect()

    drop(call(workloads.warm_slice(turns), checked=False))
    # a traced run warms up once more, on the whole corpus, so that its
    # plain and traced calls are all settled and their difference is the
    # tracing overhead alone
    if args.trace:
        drop(call(turns, checked=False))
    setup_s = time.perf_counter() - t_setup

    print("@measure-start", flush=True)
    walls = {False: [], True: []}  # traced? -> walls of the measured calls
    kept = None  # the last call of the reported kind: checked and traced
    t_measure = time.perf_counter()
    # with --trace 1: plain, traced, plain, ... so that the plain median
    # brackets the traced call and settling does not bias the overhead
    while (len(walls[False]) < 1 + args.trace or len(walls[True]) < args.trace
           or time.perf_counter() - t_measure < args.seconds):
        if failed > MAX_FAILED:
            break
        traced = bool(args.trace) and len(walls[False]) > len(walls[True])
        c = call(turns, traced)
        if c is None:
            continue
        walls[traced].append(c["wall"])
        if traced == bool(args.trace):
            drop(kept)
            kept = c
        else:
            drop(c)
    print("@measure-end", flush=True)
    if kept is None:
        raise RuntimeError(f"{failed} of {calls} run_dedup calls failed")

    wall = statistics.median(walls[False])
    out = {"attempted": calls, "failed": failed, "res": kept["res"],
           "digests": digests, "metrics": {"setup_s": setup_s, "wall_s": wall},
           "info": {"walls": walls[False], "traced_walls": walls[True]}}
    if not args.trace:
        return out

    store, wall = kept["store"], kept["wall"]
    m = store_sizes(store)
    m.update(funnel(store, cfg))
    m["pipeline.cpu_util"] = kept["cpu"] / (wall * args.cores)
    m["trace.overhead_s"] = (statistics.median(walls[True])
                             - statistics.median(walls[False]))
    # read once the session has stopped and flushed the event log
    out["trace"] = lambda groups: {**m, **trace.stage_metrics(
        store.spans, wall, groups.get(kept["group"], trace.GroupLog()))}
    # the traced call's spans, written once the run has ended
    t0 = min(sp.start for sp in store.spans)
    out["info"]["spans"] = [(sp.name, round(sp.start - t0, 3),
                             round(sp.end - t0, 3), sp.thread)
                            for sp in store.spans]
    return out


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under path."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return size, files


def run_stream(args, spark, turns, cfg, t_setup: float) -> dict:
    from pyspark.sql import functions as F

    from lsh_cascade_poc_spark.operators.components import (
        clusters_with_singletons,
        connected_components,
    )
    from lsh_cascade_poc_spark.streaming import IncrementalDedup

    sc = spark.sparkContext
    every = workloads.STREAM_COMPACT_EVERY
    batches = workloads.micro_batches(turns, workloads.STREAM_BATCHES)
    warm_dir = os.path.join(args.work_dir, "warm-index")
    warm = IncrementalDedup(spark, warm_dir, cfg, compact_every=every)
    for b, df in enumerate(workloads.micro_batches(workloads.warm_slice(turns),
                                                   every)):
        warm.process_batch(df, b)
    shutil.rmtree(warm_dir)
    setup_s = time.perf_counter() - t_setup

    index_dir = os.path.join(args.work_dir, "index")
    inc = IncrementalDedup(spark, index_dir, cfg, compact_every=every)
    latencies, failed = [], 0
    print("@measure-start", flush=True)
    for b, df in enumerate(batches):
        _label(sc, f"batch{b}")
        try:
            t0 = time.perf_counter()
            inc.process_batch(df, b)
            latencies.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 - a crash fails the stream
            print(f"batch {b} failed: {exc!r}", file=sys.stderr, flush=True)
            failed += 1
            break
        finally:
            _label(sc, None)
    print("@measure-end", flush=True)
    if not latencies:
        raise RuntimeError("the first micro-batch failed")

    docs = inc.docs()
    dup = inc.dup_pairs()
    edges = dup if cfg.cluster_on_overlap else dup.filter(F.col("jaccard") >= 0)
    clusters = clusters_with_singletons(
        connected_components(edges.select("id_a", "id_b"),
                             cfg.cc_max_iterations),
        docs,
    ).localCheckpoint(eager=True)
    res = SimpleNamespace(docs=docs, signatures=inc.signatures(),
                          dup_pairs=dup, clusters=clusters)
    pairs = dup.agg(F.bit_xor(F.xxhash64("id_a", "id_b", "jaccard")).alias("x"),
                    F.count(F.lit(1)).alias("n")).collect()[0]
    out = {"attempted": len(batches), "failed": failed, "res": res,
           "digests": [{**digest(res), "pairs_xor": pairs["x"],
                        "pairs": pairs["n"]}],
           "metrics": {"setup_s": setup_s,
                       "wall_s": statistics.mean(latencies)},
           "turn_s": sum(latencies),
           "info": {"latencies": latencies}}
    if not args.trace:
        return out

    half = len(latencies) // 2
    size, files = _tree_size(index_dir)
    m = {
        "stream.index_mb": size / 2**20,
        "stream.index_files": float(files),
        # the batches after which _compact folds the index
        "stream.compact_batch_s": statistics.mean(
            lat for b, lat in enumerate(latencies) if (b + 1) % every == 0),
        "stream.latency_growth": (statistics.mean(latencies[half:])
                                  / statistics.mean(latencies[:half])),
    }

    def per_batch(groups) -> dict[str, float]:
        logs = [groups.get(f"batch{b}", trace.GroupLog())
                for b in range(len(latencies))]
        return {**m,
                "stream.batch_jobs": statistics.median(len(g.jobs) for g in logs),
                "stream.batch_cpu_s": statistics.median(
                    sum(w.cpu_s for w in g.work.values()) for g in logs)}

    out["trace"] = per_batch
    return out


def run(args) -> dict:
    from lsh_cascade_poc_spark.config import DedupConfig

    t_setup = time.perf_counter()
    event_log = os.path.join(args.work_dir, "eventlog") if args.trace else None
    spark = _spark(args.cores, event_log)
    session_s = time.perf_counter() - t_setup
    turns = spark.read.parquet(args.corpus)
    n_turns = turns.count()
    cfg = DedupConfig()
    runner = run_batch if args.workload == "batch_planted" else run_stream
    out = runner(args, spark, turns, cfg, t_setup)

    checked = check(out["res"], out["digests"],
                    expected_digest(args.workload, args.seed), cfg)
    info = {"n_turns": n_turns, "session_s": session_s,
            **{k: v for k, v in checked.items() if k != "ok"}, **out["info"]}
    spark.stop()  # flushes the event log
    m = out["metrics"]
    if args.trace:
        m = out["trace"](trace.read_event_log(event_log))
        m["session.start_s"] = session_s
    else:
        m["turns_per_s"] = n_turns / out.get("turn_s", m["wall_s"])
        m["dup_pair_recall"] = checked["recall"]
    return {"correct": checked["ok"] and out["failed"] == 0,
            "attempted": out["attempted"], "failed": out["failed"],
            "metrics": m, "info": info}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work-dir", required=True)
    args = ap.parse_args()
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
