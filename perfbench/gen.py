"""Seeded input generator for the benchmark.

Rows come from ``sources.fixtures.make_row(i, random.Random(seed), ...)``
and are labelled by ``sources.fixtures.label_row`` (the pure-Python
oracle), so seed 42 reproduces the leading rows of the ``sf0.01-v3``
fixture exactly. The clips are written as ``N_FILES`` parquet files so
the chunk planner takes its ``files`` strategy; the stream workload
feeds the same files one at a time.

Inputs are cached per (seed, size) under ``perfbench/.inputs``; a
directory counts as done only once its ``meta.json`` exists, and it is
built under a temporary name and renamed into place, so a killed
generator never leaves a half-written input behind.
"""

from __future__ import annotations

import csv
import json
import multiprocessing
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
INPUTS = os.path.join(HERE, ".inputs")
N_FILES = 40
LABEL_WORKERS = min(4, os.cpu_count() or 1)


def _labels(rows: list[tuple[str, str]]) -> list[dict]:
    from ungoliant_spark.sources.fixtures import label_row

    return [label_row(cid, tr) for cid, tr in rows]


def input_dir(seed: int, n_clips: int) -> str:
    from ungoliant_spark.sources.fixtures import FIXTURE_VERSION

    return os.path.join(INPUTS, f"s{seed}-n{n_clips}-v{FIXTURE_VERSION}")


def generate(seed: int, n_clips: int) -> dict:
    """Build (or reuse) the input for ``seed``; returns its meta dict:
    ``dir``, ``clips_dir``, ``files``, ``labels``, ``blocklist``,
    ``n_clips``, ``seed``."""
    from ungoliant_spark.sources import fixtures as fx

    out = input_dir(seed, n_clips)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as f:
            return json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "clips"))

    rng = random.Random(seed)
    rows, prev = [], None
    for i in range(n_clips):
        row = fx.make_row(i, rng, False, prev)
        prev = (row["sr_hz"], row["dur_ms"])
        rows.append(row)
    per_file = -(-n_clips // N_FILES)
    for k in range(N_FILES):
        part = rows[k * per_file : (k + 1) * per_file]
        pq.write_table(
            pa.Table.from_pylist(part, schema=fx.CLIPS_SCHEMA),
            os.path.join(tmp, "clips", f"part-{k:05d}.parquet"),
            compression="zstd",
            row_group_size=512,
        )

    # labelling is ~20 ms/row of pure Python: fan it out (spawn, so no
    # worker inherits this process's state)
    texts = [(r["clip_id"], r["transcript"]) for r in rows]
    step = -(-len(texts) // (LABEL_WORKERS * 4))
    pieces = [texts[i : i + step] for i in range(0, len(texts), step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(LABEL_WORKERS) as pool:
        labels = [lab for part in pool.map(_labels, pieces) for lab in part]
    pq.write_table(
        pa.Table.from_pylist(labels, schema=fx.LABELS_SCHEMA),
        os.path.join(tmp, "labels.parquet"),
    )
    with open(os.path.join(tmp, "blocklist.csv"), "w", newline="") as f:
        csv.writer(f).writerows(
            (t, fx.ADULT_CATEGORY) for t in fx.ADULT_TERMS
        )

    files = [
        os.path.join(out, "clips", f"part-{k:05d}.parquet")
        for k in range(N_FILES)
    ]
    meta = {
        "seed": seed,
        "n_clips": n_clips,
        "dir": out,
        "clips_dir": os.path.join(out, "clips"),
        "files": files,
        "labels": os.path.join(out, "labels.parquet"),
        "blocklist": os.path.join(out, "blocklist.csv"),
    }
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    try:
        os.replace(tmp, out)
    except OSError:  # a concurrent generator won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return meta
