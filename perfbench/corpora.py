"""Seeded benchmark corpora, cached per (workload, seed, size).

Each corpus is a directory holding

* ``data/``   — the ``code_files`` table the pipeline reads
  (repo, path, commit, lang, content) and nothing else;
* ``truth.parquet`` — the benchmark-side sidecar: (repo, path, commit,
  family), with family -1 for background files that must stay
  singletons;
* ``meta.json`` — file count, content bytes and a sha256 over the rows
  in path order, so a run states exactly which inputs it measured.

The same (workload, seed, size) always yields byte-identical rows.
A missing corpus is built in a child process (``ensure``), so the
measured process starts from the same state whether the cache hit or
not:

    python3 -m perfbench.corpora --work <dir> --workload <name> --seed <n> --files <n>
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = ["repo", "path", "commit", "lang", "content"]


def _finish(out_dir: str, truth: pd.DataFrame, extra: dict) -> dict:
    """Hash the written data table and write truth + meta sidecars."""
    table = pq.read_table(os.path.join(out_dir, "data")).to_pandas()
    table = table.sort_values("path", kind="stable")
    digest = hashlib.sha256()
    n_bytes = 0
    for row in table.itertuples(index=False):
        raw = row.content.encode()
        n_bytes += len(raw)
        digest.update(f"{row.repo}\0{row.path}\0{row.commit}\0{row.lang}\0".encode())
        digest.update(hashlib.sha256(raw).digest())
    pq.write_table(
        pa.Table.from_pandas(truth, preserve_index=False),
        os.path.join(out_dir, "truth.parquet"),
    )
    meta = {
        "files": int(len(table)),
        "content_bytes": n_bytes,
        "sha256": digest.hexdigest(),
        **extra,
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


def _corpus_dir(work_dir: str, workload: str, seed: int, size: int) -> str:
    return os.path.join(work_dir, "corpora", f"{workload}-s{seed}-n{size}")


def ensure(work_dir: str, workload: str, seed: int, size: int) -> tuple[str, dict]:
    """Return (corpus dir, meta), building the corpus in a child process
    on a cache miss; the child's Spark session, if any, has exited when
    this returns."""
    final = _corpus_dir(work_dir, workload, seed, size)
    if not os.path.exists(os.path.join(final, "meta.json")):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        subprocess.run(
            [sys.executable, "-m", "perfbench.corpora", "--work", work_dir,
             "--workload", workload, "--seed", str(seed), "--files", str(size)],
            cwd=root, stdout=sys.stderr, check=True,
        )
    with open(os.path.join(final, "meta.json")) as f:
        return final, json.load(f)


def _build(work_dir: str, workload: str, seed: int, size: int) -> None:
    """Build one corpus.  A partial build never survives: it is written
    to a temporary name and renamed into place."""
    from perfbench import machine

    final = _corpus_dir(work_dir, workload, seed, size)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "pipeline_bulk":
        from selfclean_spark.session import get_spark

        master, conf = machine.session_conf(work_dir)
        # generation needs little heap; skip the measured session's
        # large pre-touched one, which only slows this JVM's start
        conf.update({"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": ""})
        spark = get_spark("perfbench-corpus", master=master, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            build_bulk(spark, tmp, seed, size, machine.cores())
        finally:
            machine.stop_spark(spark)
    else:
        build_clones(tmp, seed, size, machine.cores())
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


# ------------------------------------------------------------- pipeline_bulk


def build_bulk(spark, out_dir: str, seed: int, n_files: int, partitions: int) -> dict:
    """Realistic 2–20 KB files from the package's own distributed
    generator: 35% of rows in planted families of 3 (exact clones and
    1–4-token near clones), the rest independent background files."""
    from selfclean_spark.synth import synth_code_files_spark

    raw = os.path.join(out_dir, "raw")
    synth_code_files_spark(spark, n_files, seed=seed, partitions=partitions).write.parquet(raw)
    # split the one generated table into the pipeline input and the sidecar
    data_dir = os.path.join(out_dir, "data")
    os.makedirs(data_dir)
    for k, name in enumerate(sorted(f for f in os.listdir(raw) if f.endswith(".parquet"))):
        part = pq.read_table(os.path.join(raw, name))
        pq.write_table(part.select(COLUMNS), os.path.join(data_dir, f"part-{k:05d}.parquet"))
    truth = pq.read_table(raw, columns=["repo", "path", "commit", "truth_group"]).to_pandas()
    shutil.rmtree(raw)
    return _finish(out_dir, truth.rename(columns={"truth_group": "family"}),
                   {"generator": "synth_code_files_spark"})


# ----------------------------------------------------------- pipeline_clones

_LANGS = {
    "python": ("py", "def return import class self if else for in print len None lambda with".split()),
    "java": ("java", "public static void class int String new return if else for while final".split()),
    "go": ("go", "func package import return if else for range var type struct map nil".split()),
    "js": ("js", "function const let var return if else for class new this async await".split()),
    "c": ("c", "int char void return if else for while struct static const sizeof NULL".split()),
}
_PUNCT = ["(", ")", "{", "}", "=", "+", "*", ";", ",", "==", "->"]


def _shingles(text: str, k: int = 5) -> set[str]:
    return {text[i : i + k] for i in range(max(len(text) - k + 1, 1))}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _short_file(rng: np.random.Generator, lang: str, n_tokens: int | None = None) -> list[str]:
    """60–180 tokens (≈0.3–1.3 KB) unless ``n_tokens`` is given: shared
    keywords plus identifiers unique to the file, so unrelated files sit
    far below the 0.8 threshold."""
    own = [f"s{int(rng.integers(0, 1 << 24)):x}" for _ in range(10)]
    vocab = _LANGS[lang][1] + _PUNCT + own * 3
    n = n_tokens or int(rng.integers(60, 181))
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


def _render(tokens: list[str]) -> str:
    return "\n".join(" ".join(tokens[i : i + 8]) for i in range(0, len(tokens), 8)) + "\n"


def _chain_step(rng: np.random.Generator, tokens: list[str], floor: float) -> list[str]:
    """One mutation link: a single-token substitution whose shingle
    Jaccard to the previous member stays >= ``floor`` (well above the
    0.8 verify threshold, so the link itself is always a verified edge)."""
    prev = _render(tokens)
    for _ in range(100):
        nxt = list(tokens)
        nxt[int(rng.integers(0, len(nxt)))] = f"e{int(rng.integers(0, 1 << 16)):x}"
        if _jaccard(prev, _render(nxt)) >= floor:
            return nxt
    raise RuntimeError(f"no single-token edit keeps Jaccard >= {floor}")


# family sizes are fixed so that only file contents vary with the seed
HOT_FAMILIES = (205, 215)  # verbatim copies, over band_bucket_cap (200)
DENSE_FAMILY = 60          # verbatim copies under the cap: all pairs kept
CHAIN_HEAD = 80            # chain family k holds max(3, CHAIN_HEAD // k) files


def build_clones(out_dir: str, seed: int, n_files: int, parts: int) -> dict:
    """Short files in large near-duplicate families.

    * Chain families with rank-size (Zipf) sizes ``CHAIN_HEAD // k``,
      floored at 3: member j is one token edit (Jaccard >= 0.9) away
      from member j-1, so far-apart members fall below the verify
      threshold and connect only through the chain — components need
      several rounds.
    * ``HOT_FAMILIES``: verbatim families larger than ``band_bucket_cap``
      — every band bucket they fill is over the cap and dropped; they
      stay whole only through the sha-equality star edges.
    * ``DENSE_FAMILY``: a verbatim family below the cap, whose
      m(m-1)/2 pairs are all candidates, verified edges and ranked rows.
    * A quarter of the files are background files that must stay
      singletons.
    """
    rng = np.random.default_rng([seed, 0xC10E])
    langs = list(_LANGS)
    rows: list[tuple] = []

    def add(lang: str, content: str, family: int) -> None:
        i = len(rows)
        repo = f"org{int(rng.zipf(1.6)) % 7}/repo{int(rng.zipf(1.4)) % 29}"
        commit = hashlib.sha1(f"{repo}:{seed}".encode()).hexdigest()[:12]
        path = f"src/m{i % 13}/c_{i}.{_LANGS[lang][0]}"
        rows.append((repo, path, commit, lang, content, family))

    def lang_of() -> str:
        return langs[int(rng.integers(0, len(langs)))]

    family = 0
    verbatim = (*HOT_FAMILIES, DENSE_FAMILY)
    for size in verbatim:
        lang = lang_of()
        text = _render(_short_file(rng, lang, n_tokens=120))
        for _ in range(size):
            add(lang, text, family)
        family += 1
    planted = n_files - n_files // 4
    while len(rows) < planted:
        size = min(max(3, CHAIN_HEAD // (family + 1 - len(verbatim))), planted - len(rows))
        lang = lang_of()
        tokens = _short_file(rng, lang)
        for _ in range(size):
            add(lang, _render(tokens), family)
            tokens = _chain_step(rng, tokens, floor=0.9)
        family += 1
    while len(rows) < n_files:
        lang = lang_of()
        add(lang, _render(_short_file(rng, lang)), -1)

    frame = pd.DataFrame(rows, columns=COLUMNS + ["family"])
    frame = frame.sample(frac=1.0, random_state=np.random.RandomState(seed % (1 << 32)))
    data_dir = os.path.join(out_dir, "data")
    os.makedirs(data_dir)
    step = -(-len(frame) // parts)
    for k in range(parts):
        pq.write_table(
            pa.Table.from_pandas(frame[COLUMNS].iloc[k * step : (k + 1) * step], preserve_index=False),
            os.path.join(data_dir, f"part-{k:05d}.parquet"),
        )
    truth = frame[["repo", "path", "commit", "family"]].astype({"family": "int64"})
    return _finish(out_dir, truth, {"generator": "perfbench.corpora.build_clones", "families": family})


def main() -> None:
    ap = argparse.ArgumentParser(description="Build one seeded benchmark corpus.")
    ap.add_argument("--work", required=True, help="scratch directory; corpora go to <work>/corpora")
    ap.add_argument("--workload", required=True, choices=("pipeline_bulk", "pipeline_clones"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    args = ap.parse_args()
    _build(args.work, args.workload, args.seed, args.files)


if __name__ == "__main__":
    main()
