"""Output checks against the generated labels.

Expected kept set: the label's ``keep``; with the audio gate also
``i % AUDIO_ANOMALY_PERIOD not in {1, 2, 3}`` (the planted silent,
clipped and dead-air clips). Gates: keep/drop F1 >= 0.99, scrubbed
transcript exact match >= 0.99, no clip committed twice, the chunk
plan took the ``files`` strategy, every follow-on pass covers the kept
rows, and the audio dedup mapping equals the connected components of
the Hamming <= 3 graph over the fingerprints the gate persisted on the
kept rows (recomputed here by brute force and union-find).

Planted near-dup recall is reported, with a floor of 0.5 only: a
planted re-upload adds noise that flips a fourth fingerprint bit on
some pairs (the documented miss class), and with 15-20 planted pairs
per 1,200-clip input the recall moves with the seed (0.74-1.0 seen).
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

MIN_F1 = 0.99
MIN_SCRUB = 0.99
MIN_DUP_RECALL = 0.5
MAX_HAMMING = 3


def _index(clip_id: str) -> int:
    return int(clip_id.rsplit("-", 1)[1])


def expected_kept(labels_path: str, audio_gate: bool) -> dict[str, str]:
    """clip_id -> expected scrubbed transcript, for every clip the
    pipeline should keep."""
    from ungoliant_spark.sources.fixtures import AUDIO_ANOMALY_PERIOD

    t = pq.read_table(
        labels_path, columns=["clip_id", "keep", "scrubbed_transcript"]
    ).to_pydict()
    return {
        cid: text
        for cid, keep, text in zip(
            t["clip_id"], t["keep"], t["scrubbed_transcript"]
        )
        if keep
        and not (audio_gate and _index(cid) % AUDIO_ANOMALY_PERIOD in (1, 2, 3))
    }


def score(kept: list[tuple[str, str]], expected: dict[str, str]) -> dict:
    """keep_f1 and scrub_exact_frac of committed (clip_id, transcript)
    rows against ``expected``; ``errors`` lists every failed gate."""
    ids = [cid for cid, _ in kept]
    got = set(ids)
    tp = len(got & expected.keys())
    fp, fn = len(got) - tp, len(expected.keys() - got)
    f1 = 2 * tp / (2 * tp + fp + fn) if (tp + fp + fn) else 1.0
    exact = sum(1 for cid, text in kept if expected.get(cid) == text)
    scrub = exact / len(kept) if kept else 0.0
    errors = []
    if len(ids) != len(got):
        errors.append(f"{len(ids) - len(got)} clips committed twice")
    if f1 < MIN_F1:
        errors.append(f"keep_f1 {f1:.4f} < {MIN_F1} (fp={fp}, fn={fn})")
    if scrub < MIN_SCRUB:
        errors.append(f"scrub_exact_frac {scrub:.4f} < {MIN_SCRUB}")
    return {
        "keep_f1": f1, "scrub_exact_frac": scrub,
        "kept": len(ids), "expected": len(expected), "errors": errors,
    }


def _read(files: list[str], columns: list[str]) -> dict[str, list]:
    out: dict[str, list] = {c: [] for c in columns}
    for path in files:
        t = pq.read_table(path.removeprefix("file:"), columns=columns)
        for c in columns:
            out[c].extend(t.column(c).to_pylist())
    return out


def _snapshot_files(table_root: str) -> list[str]:
    snap_dir = os.path.join(table_root, "_snapshots")
    with open(os.path.join(snap_dir, "LATEST"), encoding="utf-8") as f:
        name = f.read().strip()
    with open(os.path.join(snap_dir, name), encoding="utf-8") as f:
        manifest = json.load(f)
    return [os.path.join(table_root, p) for p in manifest["files"]]


def _pass_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, n) for n in os.listdir(path)
        if n.endswith(".parquet")
    )


def hamming_components(fps: dict[str, int]) -> dict[str, str]:
    """clip_id -> smallest clip_id of its component in the graph whose
    edges join fingerprints at Hamming distance <= MAX_HAMMING."""
    parent = {c: c for c in fps}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    items = sorted(fps.items())
    for k, (a, fa) in enumerate(items):
        for b, fb in items[k + 1 :]:
            if (fa ^ fb).bit_count() <= MAX_HAMMING:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {c: find(c) for c in fps}


def planted_dup_recall(reps: dict[str, str], kept: set[str]) -> float:
    """Share of planted near-dups (both clips kept) whose component_rep
    equals their source clip's."""
    from ungoliant_spark.sources.fixtures import is_dup_row

    planted = found = 0
    for cid in kept:
        i = _index(cid)
        src = f"clip-{i - 1:08d}"
        if is_dup_row(i) and src in kept:
            planted += 1
            found += reps.get(cid) is not None and reps.get(cid) == reps.get(src)
    return found / planted if planted else 1.0


def check_batch(out: str, labels: str, audio_gate: bool,
                passes: list[str]) -> dict:
    """Checks one committed batch-job output root."""
    with open(os.path.join(out, "chunks.json"), encoding="utf-8") as f:
        strategy = json.load(f)["strategy"]
    k = _read(_snapshot_files(os.path.join(out, "kept")),
              ["clip_id", "transcript"] + (["afp"] if audio_gate else []))
    res = score(list(zip(k["clip_id"], k["transcript"])),
                expected_kept(labels, audio_gate))
    res["chunk_strategy"] = strategy
    if strategy != "files":
        res["errors"].append(f"chunk strategy {strategy!r}, not 'files'")
    kept = set(k["clip_id"])
    for name in passes:
        path = os.path.join(out, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            res["errors"].append(f"pass {name} did not commit")
            continue
        p = _read(_pass_files(path), ["clip_id"] + (
            ["component_rep"] if name in ("dedup", "audio_dedup") else []
        ))
        if set(p["clip_id"]) != kept or len(p["clip_id"]) != len(kept):
            res["errors"].append(f"pass {name} rows != kept rows")
        if name == "audio_dedup":
            reps = dict(zip(p["clip_id"], p["component_rep"]))
            want = hamming_components(dict(zip(k["clip_id"], k["afp"])))
            wrong = [c for c in want if reps.get(c) != want[c]]
            if wrong:
                res["errors"].append(
                    f"audio_dedup: {len(wrong)} clips not in their "
                    f"Hamming<={MAX_HAMMING} component, e.g. {wrong[0]}")
            recall = planted_dup_recall(reps, kept)
            res["planted_dup_recall"] = recall
            if recall < MIN_DUP_RECALL:
                res["errors"].append(
                    f"planted_dup_recall {recall:.3f} < {MIN_DUP_RECALL}")
    return res
