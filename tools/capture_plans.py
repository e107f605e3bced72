"""Capture the pre-execution ``explain('formatted')`` plan of each query
in ``TOUCHED`` into ``<out_dir>/<query>_<tag>.txt``.

Usage: python tools/capture_plans.py <out_dir> <tag>
e.g.   python tools/capture_plans.py plans/r08 after

Environment: ``SPARK_GRAFT_SF_DIR`` (corpus, default sf0.1) and
``SPARK_GRAFT_CPUS`` (local cores, default 32).  Existing dumps are
overwritten only under the given directory and tag, so a baseline
captured under another tag or directory stays untouched.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from selfclean_spark import caching, queries as Q  # noqa: E402
from selfclean_spark.session import get_spark  # noqa: E402

TOUCHED = [
    "minhash_verified_pairs",
    "minhash_components",
    "dedup_cluster_histogram",
    "near_dup_ranking",
    "lang_mismatch_ranking",
    "isolation_ranking",
    "lad_offtopic_planted",
    "auto_cut_flags",
    "decontamination_pairs",
    "substring_containment_pairs",
    "dedup_method_agreement",
    "ngram_jaccard_pairs",
    "token_jaccard_pairs",
    "winnow_clone_pairs",
    "block_clone_pairs",
    "repo_fork_pairs",
    "simhash_near_pairs",
    "source_overlap_pairs",
    "lsh_topk_ann",
    "embedding_dup_pairs",
    "export_shard_plan",
    "unimax_epoch_plan",
    "source_novelty_report",
    "dedup_graph_triangles",
]


def main(argv: list[str]) -> None:
    if len(argv) != 2:
        sys.exit("usage: capture_plans.py <out_dir> <tag>")
    out_dir, tag = argv
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "capture-plans",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(cpus) * 2, 8))},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in TOUCHED:
        df = getattr(Q, name)(spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(text)
        caching.clear()
        spark.catalog.clearCache()
        print("captured", name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
