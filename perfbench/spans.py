"""Span tracing around the package's public layer entry points.

``Tracer.patched()`` swaps each entry point for a wrapper that records
a span (name, start, end, parent) and runs the call under its own Spark
job group; names are patched where they are looked up, so a module that
imported a function by name gets the wrapper too.  Spans stay in memory;
``layer_metrics`` turns the spans of one traced operation plus the Spark
status store (per-stage executor time, shuffle writes, spill, fetch
wait) and the catalog's stage metrics into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

# (module, attribute, span name) — every public entry point the batch
# pipeline reaches, patched in each module that looks it up (the
# pipeline imports ``fraction_cut`` by name).  ``ParquetCatalog.write``
# spans are keyed by stage.
ENTRY_POINTS = [
    ("selfclean_spark.session", "get_spark", "session.get_spark"),
    ("selfclean_spark.operators.signatures", "compute_signatures", "signatures.compute_signatures"),
    ("selfclean_spark.operators.signatures", "band_hashes", "signatures.band_hashes"),
    ("selfclean_spark.operators.candidates", "band_pair_stream", "candidates.band_pair_stream"),
    ("selfclean_spark.operators.candidates", "exact_duplicate_pairs", "candidates.exact_duplicate_pairs"),
    ("selfclean_spark.operators.verify", "verify_candidates", "verify.verify_candidates"),
    ("selfclean_spark.operators.components", "connected_components", "components.connected_components"),
    ("selfclean_spark.operators.components", "with_singletons", "components.with_singletons"),
    ("selfclean_spark.operators.ranking", "near_duplicate_ranking", "ranking.near_duplicate_ranking"),
    ("selfclean_spark.operators.autoclean", "fraction_cut", "ranking.fraction_cut"),
    ("selfclean_spark.plans.pipeline", "fraction_cut", "ranking.fraction_cut"),
]

# catalog stage name → layer
STAGE_LAYER = {
    "signatures": "signatures",
    "candidates": "candidates",
    "verified_edges": "verify",
    "components": "components",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    group: str


class Tracer:
    """``active_context()`` returns the live SparkContext, or None before
    the session exists (``get_spark``'s own span sets no job group)."""

    def __init__(self, active_context):
        self._sc = active_context
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"perfbench-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        sc = self._sc()
        if sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append(len(self.spans))
        record = Span(name, time.perf_counter(), 0.0, parent, group)
        self.spans.append(record)
        try:
            yield record
        finally:
            record.end = time.perf_counter()
            self._stack.pop()
            sc = self._sc()
            if sc is not None:
                if self._stack:
                    up = self.spans[self._stack[-1]]
                    sc.setJobGroup(up.group, up.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    @contextlib.contextmanager
    def patched(self, entry_points=ENTRY_POINTS):
        """Install the wrappers for the duration of the block."""
        from selfclean_spark.catalog import ParquetCatalog

        saved = []
        for mod_name, attr, name in entry_points:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))
        orig_write = ParquetCatalog.write
        tracer = self

        def write(catalog, name, *args, **kwargs):
            with tracer.span(f"catalog.write:{name}"):
                return orig_write(catalog, name, *args, **kwargs)

        ParquetCatalog.write = write
        try:
            yield self
        finally:
            ParquetCatalog.write = orig_write
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def to_json(self, t0: float) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                "parent": s.parent,
                "group": s.group,
            }
            for i, s in enumerate(self.spans)
        ]


# ------------------------------------------------------------ status store


def _epoch_s(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_stats(sc, group: str) -> dict:
    """Jobs, job intervals (epoch s) and summed stage metrics of one job group."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {
        "jobs": 0, "tasks": 0, "intervals": [], "executor_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "fetch_wait_s": 0.0,
    }
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        job = store.job(jid)
        start, end = _epoch_s(job.submissionTime()), _epoch_s(job.completionTime())
        if start is not None and end is not None:
            out["intervals"].append((start, end))
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info is not None else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out["tasks"] += st.numCompleteTasks()
            out["executor_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1000.0
    return out


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _layer_of(name: str) -> str:
    if name.startswith("catalog.write:"):
        return STAGE_LAYER.get(name.split(":", 1)[1], "pipeline")
    return name.split(".", 1)[0]


def layer_metrics(sc, tracer: Tracer, root: int, stage_metrics: list[dict],
                  ranked_rows: int, catalog_bytes: int, content_bytes: int) -> dict:
    """Per-layer metrics for the spans under ``tracer.spans[root]``;
    ``stage_metrics`` is the catalog's per-stage lineage
    (``ParquetCatalog.all_metrics()``).

    ``signatures.input_bytes`` is the content the signature kernel
    consumed (``content_bytes``): Spark 4.1's parquet scans of local
    files report only footer reads as stage ``inputBytes``."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    spans = tracer.spans
    under = [root]
    for i in range(root + 1, len(spans)):
        if spans[i].parent is not None and spans[i].parent in under:
            under.append(i)
    stats = {i: group_stats(sc, spans[i].group) for i in under}

    def layer(name: str) -> dict:
        ids = [i for i in under if i != root and _layer_of(spans[i].name) == name]
        agg = {"jobs": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_s": 0.0}
        for i in ids:
            for k in agg:
                agg[k] += stats[i][k]
        agg["wall_s"] = _union_len([(spans[i].start, spans[i].end) for i in ids])
        return agg

    stages = {m["stage"]: m for m in stage_metrics}
    cand, ver, comp = stages["candidates"], stages["verified_edges"], stages["components"]
    total = {k: sum(s[k] for s in stats.values()) for k in ("jobs", "tasks", "fetch_wait_s")}
    job_wall = _union_len([iv for s in stats.values() for iv in s["intervals"]])
    wall = spans[root].end - spans[root].start
    sig, can, vfy, cmp_, rnk = (layer(n) for n in ("signatures", "candidates", "verify", "components", "ranking"))
    writes = [i for i in under if spans[i].name.startswith("catalog.write:")]
    return {
        "pipeline.wall_s": (wall, "s"),
        "pipeline.driver_s": (wall - job_wall, "s"),
        "pipeline.jobs": (total["jobs"], "count"),
        "pipeline.tasks": (total["tasks"], "count"),
        "pipeline.stats_s": (sum(
            m["extra"]["phase_secs"]["stats"] + m["extra"]["phase_secs"]["invariant"]
            for m in stage_metrics), "s"),
        "pipeline.shuffle_fetch_wait_s": (total["fetch_wait_s"], "s"),
        "signatures.wall_s": (sig["wall_s"], "s"),
        "signatures.executor_s": (sig["executor_s"], "s"),
        "signatures.input_bytes": (content_bytes, "bytes"),
        "signatures.rows_out": (stages["signatures"]["rows_out"], "count"),
        "candidates.wall_s": (can["wall_s"], "s"),
        "candidates.executor_s": (can["executor_s"], "s"),
        "candidates.shuffle_write_bytes": (can["shuffle_write_bytes"], "bytes"),
        "candidates.pairs_out": (cand["rows_out"], "count"),
        "candidates.dropped_buckets": (cand["extra"].get("dropped_band_buckets", 0), "count"),
        "candidates.max_bucket_size": (cand["extra"].get("max_bucket_size", 0), "count"),
        "verify.wall_s": (vfy["wall_s"], "s"),
        "verify.executor_s": (vfy["executor_s"], "s"),
        "verify.shuffle_write_bytes": (vfy["shuffle_write_bytes"], "bytes"),
        "verify.spill_bytes": (vfy["spill_bytes"], "bytes"),
        "verify.edges_out": (ver["rows_out"], "count"),
        "verify.useful_ratio": (ver["rows_out"] / max(cand["rows_out"], 1), "ratio"),
        "verify.substring_rescued": (ver["extra"].get("substring_rescued", 0), "count"),
        "components.wall_s": (cmp_["wall_s"], "s"),
        "components.rounds": (comp["extra"].get("cc_rounds", 0), "count"),
        "components.jobs": (cmp_["jobs"], "count"),
        "components.shuffle_write_bytes": (cmp_["shuffle_write_bytes"], "bytes"),
        "ranking.wall_s": (rnk["wall_s"], "s"),
        "ranking.rows_out": (ranked_rows, "count"),
        "ranking.jobs": (rnk["jobs"], "count"),
        "catalog.write_s": (sum(spans[i].end - spans[i].start for i in writes), "s"),
        "catalog.bytes_written": (catalog_bytes, "bytes"),
    }
