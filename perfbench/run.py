#!/usr/bin/env python3
"""Benchmark of the near-duplicate pipeline, end to end and per layer.

    python3 perfbench/run.py --workload pipeline_bulk --seed 1 --seconds 10 --trace 0

One closed-loop client in one process on ``local[<cores>]``.  The
seeded corpus is built (on a cache miss) in a child process before
anything is measured.  A run then starts the Spark session (set-up)
and times exactly one operation: ``DedupPipeline.run`` followed by
materialising the near-duplicate ranking with the auto-cut on.  That
operation is the first in its JVM, so it is cold, as in a batch job;
it takes longer than ``--seconds`` on the machines this was sized on.
Its output is checked against the corpus's planted families.  The last
stdout line is the result JSON; the line before it is the run record.
See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# corpus files per workload: set-up plus one operation must fit the run
# budget on a 4-core machine, so per-operation overhead is a large share
# of each wall (README.md, "Sizing")
WORKLOADS = {
    "pipeline_bulk": 1500,
    "pipeline_clones": 1000,
}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def check_output(spark, run_dir: str, truth, ranked_rows: int, stage_metrics: list[dict]):
    """(errors, component fingerprint) of one operation's outputs.

    Every planted family must be exactly one component, every background
    file a singleton, and the ranking must hold one row per verified edge.
    The caller compares the fingerprint with the one the truth implies."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    path = os.path.join(run_dir, "components")
    fingerprint = int(spark.read.parquet(path).agg(
        F.coalesce(F.expr("bit_xor(xxhash64(id, component_id))"), F.lit(0))
    ).first()[0])
    got = pq.read_table(path, columns=["id", "component_id"]).to_pandas()
    frame = truth.merge(got, on="id", how="outer", indicator=True)
    errors = []
    if (frame["_merge"] != "both").any():
        errors.append(f"{int((frame['_merge'] != 'both').sum())} ids not matched between input and components")
    frame = frame[frame["_merge"] == "both"]
    size = frame.groupby("component_id")["id"].transform("size")
    fams_per_comp = frame.groupby("component_id")["family"].transform("nunique")
    planted = frame[frame["family"] >= 0]
    split = int((planted.groupby("family")["component_id"].nunique() > 1).sum())
    if split:
        errors.append(f"{split} planted families split across components")
    if int((fams_per_comp > 1).sum()):
        errors.append(f"{int((fams_per_comp > 1).sum())} files in components mixing families")
    merged_bg = int(((frame["family"] < 0) & (size > 1)).sum())
    if merged_bg:
        errors.append(f"{merged_bg} background files merged into a component")
    edges = {m["stage"]: m["rows_out"] for m in stage_metrics}["verified_edges"]
    if ranked_rows != edges or ranked_rows <= 0:
        errors.append(f"ranking has {ranked_rows} rows for {edges} verified edges")
    return errors, fingerprint


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # the run times one cold operation, which is longer than this on the
    # machines the benchmark was sized on; a second one would be warm
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # Python workers and the corpus-building child import the package from the
    # checkout as well
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark import SparkContext
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from perfbench import corpora, machine, spans
    from selfclean_spark import caching, session
    from selfclean_spark.catalog import ParquetCatalog
    from selfclean_spark.config import PipelineConfig
    from selfclean_spark.plans.pipeline import DedupPipeline
    from selfclean_spark.results import IssueTypes

    t_gen = time.perf_counter()
    corpus_dir, corpus = corpora.ensure(WORK, args.workload, args.seed, WORKLOADS[args.workload])
    gen_s = time.perf_counter() - t_gen

    tracer = spans.Tracer(lambda: SparkContext._active_spark_context)
    master, conf = machine.session_conf(WORK)
    t_start = time.perf_counter()
    with (tracer.patched([e for e in spans.ENTRY_POINTS if e[0].endswith(".session")])
          if args.trace else contextlib.nullcontext()):
        spark = session.get_spark("perfbench", master=master, extra_conf=conf)
    setup_wall = time.perf_counter() - t_start
    spark.sparkContext.setLogLevel("ERROR")
    rss = machine.PeakRss(spark)

    try:
        cfg = PipelineConfig(auto_cleaning=True)
        runs_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
        ops: list[dict] = []
        expected: dict = {}

        def check(op: dict, run_dir: str) -> None:
            """Check one operation's outputs against the corpus's truth
            sidecar: component_id must be the smallest id of the file's
            family.  Runs after the operation, untimed."""
            if not expected:
                truth = (
                    spark.read.parquet(os.path.join(corpus_dir, "truth.parquet"))
                    .select(F.xxhash64("repo", "path", "commit").alias("id"), "family")
                    .toPandas()
                )
                comp = truth.groupby("family")["id"].transform("min").where(
                    truth["family"] >= 0, truth["id"]
                )
                frame = spark.createDataFrame(truth.assign(component_id=comp)[["id", "component_id"]])
                expected["truth"] = truth
                expected["fingerprint"] = int(
                    frame.agg(F.expr("bit_xor(xxhash64(id, component_id))")).first()[0]
                )
            op["errors"], op["fingerprint"] = check_output(
                spark, run_dir, expected["truth"], op["ranked_rows"], op["stage_metrics"]
            )
            if op["fingerprint"] != expected["fingerprint"]:
                op["errors"].append(
                    f"component fingerprint {op['fingerprint']} != expected {expected['fingerprint']}"
                )

        def operation(label: str, traced: bool = False) -> dict:
            """One timed pipeline run + ranking, then its (untimed) check."""

            def span(name: str):
                return tracer.span(name) if traced else contextlib.nullcontext()

            run_dir = os.path.join(runs_dir, label)
            shutil.rmtree(run_dir, ignore_errors=True)
            caching.clear()
            spark.catalog.clearCache()
            rss.reset()
            catalog = ParquetCatalog(spark, run_dir)
            counted = Observation(f"perfbench_{label}")
            op = {"label": label, "errors": []}
            root = len(tracer.spans)
            t0 = time.perf_counter()
            try:
                with (tracer.patched() if traced else contextlib.nullcontext()), span("pipeline.op"):
                    code_files = spark.read.parquet(os.path.join(corpus_dir, "data"))
                    manager = DedupPipeline(spark, catalog, cfg).run(code_files)
                    ranked = manager[IssueTypes.NEAR_DUPLICATES]
                    with span("ranking.materialize"):
                        ranked.observe(counted, F.count(F.lit(1)).alias("n")).write.format(
                            "noop").mode("overwrite").save()
                op["wall_s"] = time.perf_counter() - t0
                op["memory_mb"] = rss.peak_mb()
                op["catalog_bytes"] = _dir_bytes(run_dir)
                op["catalog_stage_bytes"] = {
                    d: _dir_bytes(os.path.join(run_dir, d)) for d in sorted(os.listdir(run_dir))
                    if os.path.isdir(os.path.join(run_dir, d))
                }
                op["ranked_rows"] = int(counted.get["n"])
                op["stage_metrics"] = catalog.all_metrics()
                t_check = time.perf_counter()
                check(op, run_dir)
                op["check_s"] = time.perf_counter() - t_check
                if traced:
                    op["layers"] = spans.layer_metrics(
                        spark.sparkContext, tracer, root, op["stage_metrics"],
                        op["ranked_rows"], op["catalog_bytes"], corpus["content_bytes"],
                    )
            except Exception:  # counted as a failed op; the run goes on
                op.setdefault("wall_s", time.perf_counter() - t0)
                op["errors"].append(traceback.format_exc(limit=3))
            shutil.rmtree(run_dir, ignore_errors=True)
            ops.append(op)
            return op

        # one cold operation: the first in a fresh JVM, as in a batch job
        timed = operation("cold")
        if args.trace:
            plain = operation("warm")
            traced = operation("traced", traced=True)
        t_canary = time.perf_counter()
        canary = machine.canary_s(spark, WORK, repeats=1)
        canary_wall = time.perf_counter() - t_canary

        failed = sum(1 for o in ops if o["errors"])
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump({"spans": tracer.to_json(t_start)}, f)
        run_record = {
            "workload": args.workload,
            "seed": args.seed,
            "machine": machine.record(spark, ROOT),
            "corpus": corpus,
            "canary_s": canary,
            "setup_wall_s": setup_wall,
            "phases_s": {
                "corpus": gen_s,
                "checks": sum(o.get("check_s", 0.0) for o in ops), "canary": canary_wall,
                "until_record": time.perf_counter() - t_start,
            },
            "ops": [
                {k: o.get(k) for k in (
                    "label", "wall_s", "memory_mb", "catalog_bytes",
                    "catalog_stage_bytes", "ranked_rows", "fingerprint", "errors",
                )}
                for o in ops
            ],
        }
    finally:
        rss.close()
        machine.stop_spark(spark)
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in traced.get("layers", {}).items()}
        metrics["session.start_s"] = {"value": setup_wall, "unit": "s"}
        metrics["trace.overhead_s"] = {"value": traced["wall_s"] - plain["wall_s"], "unit": "s"}
    else:
        mem = timed.get("memory_mb") or {}
        metrics = {
            "setup_s": {"value": setup_wall, "unit": "s"},
            "files_per_s": {"value": corpus["files"] / timed["wall_s"], "unit": "files/s"},
            "peak_rss_mb": {"value": mem.get("jvm_offheap", 0.0) + mem.get("workers", 0.0), "unit": "MiB"},
            "checkpoint_bytes_per_input_byte": {
                "value": timed.get("catalog_bytes", 0) / corpus["content_bytes"], "unit": "ratio",
            },
        }
    print(json.dumps({"perfbench_record": run_record}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
