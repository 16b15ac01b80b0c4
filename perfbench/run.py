"""End-to-end benchmark of the quality-filter jobs.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root. Workloads (perfbench/README.md has the
full spec):

* ``batch_job``   -- ``jobs/run_pipeline.py --chunks 4 --blocklist ...
  --dedup simhash --audio-gate --audio-dedup --vad``, closed loop, one
  job at a time;
* ``stream_open`` -- ``jobs/run_stream.py --mode quality
  --max-files-per-trigger 1`` fed by an open-loop file feeder.

With ``--trace 0`` the CLIs run as subprocesses exactly as a user runs
them (``SPARK_GRAFT_CPUS`` = the host's CPU count, every other setting
left at the program's defaults) and the end-to-end metrics are printed.
With ``--trace 1`` the same work is re-composed in-process from the
layers' public functions with Spark's event log on (trace_run.py) and
the per-layer metrics are printed. The last line of stdout is one JSON
object; the exit code is non-zero when a correctness gate failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_CLIPS = 1200  # 40 files of 30 clips
STREAM_WARMUP_FILES = 1
STREAM_INTERVAL_S = 1.5
STREAM_DRAIN_S = 30.0
JOB_TIMEOUT_S = 150.0
SMOKE_CLIPS = 200  # 40 files of 5 clips

# workload -> (CLI flags, audio-gated, follow-on pass outputs)
BATCH = {
    "batch_job": (
        ["--chunks", "4", "--dedup", "simhash", "--audio-gate",
         "--audio-dedup", "--vad"],
        True, ["dedup", "vad", "audio_dedup"],
    ),
}
WORKLOADS = [*BATCH, "stream_open"]


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the tail statistic: p75 by nearest rank.
    With a batch job's 40 file samples that is the highest order
    statistic with ten samples above it; a stream run has 13 samples,
    too few for any percentile above the median to have ten."""
    s = sorted(values)
    i = max(math.ceil(0.75 * len(s)) - 1, 0)
    return s[i], 100.0 * (i + 1) / len(s)


def scratch_env() -> dict:
    """Spark's and Python's scratch space, inside the checkout."""
    tmp = os.path.join(HERE, ".runs", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {"SPARK_LOCAL_DIRS": os.path.join(HERE, ".runs", "spark-local"),
            "TMPDIR": tmp, "SPARK_GRAFT_CPUS": str(os.cpu_count())}


def job_env() -> dict:
    """The CLIs' environment: the host's CPU count, tracing off (no
    event-log confs inherited through PYSPARK_SUBMIT_ARGS)."""
    env = {**os.environ, **scratch_env(), "PYTHONUNBUFFERED": "1"}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---- batch ------------------------------------------------------------


def _chunk_commits(out: str) -> dict[str, float]:
    """chunk id -> commit time, from the kept table's snapshots."""
    snap_dir = os.path.join(out, "kept", "_snapshots")
    commits: dict[str, float] = {}
    for name in sorted(os.listdir(snap_dir)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(snap_dir, name), encoding="utf-8") as f:
                summary = json.load(f)["summary"]
            for cid in summary["chunks"]:
                commits.setdefault(cid, summary["committed_at"])
    return commits


def _file_latencies(out: str, started: float) -> list[float]:
    """Per input file: job start -> commit of the chunk holding it."""
    with open(os.path.join(out, "chunks.json"), encoding="utf-8") as f:
        plan = json.load(f)
    commits = _chunk_commits(out)
    n = plan["n_chunks"]
    return [
        commits[f"chunk-{i % n:05d}"] - started
        for i in range(len(plan["files"]))
    ]


def _last_commit(out: str, passes: list[str]) -> float:
    marks = [os.path.join(out, "kept", "_snapshots", "LATEST")]
    marks += [os.path.join(out, p, "_SUCCESS") for p in passes]
    return max(os.path.getmtime(m) for m in marks)


def run_batch(workload: str, meta: dict, seconds: float, work: str) -> dict:
    from check import check_batch
    from procs import Job

    flags, audio_gate, passes = BATCH[workload]
    n_ops = int(flags[flags.index("--chunks") + 1]) + len(passes)
    args = ["--input", meta["clips_dir"], "--blocklist", meta["blocklist"],
            *flags]
    samples: dict[str, list[float]] = {
        k: [] for k in ("setup_s", "job_wall_s", "clips_per_s",
                        "keep_f1", "scrub_exact_frac")
    }
    rss: list[float] = []
    latencies: list[float] = []
    attempted = failed = 0
    errors: list[str] = []
    t0 = time.time()
    while True:
        out = os.path.join(work, f"out{attempted // n_ops}")
        job = Job("jobs/run_pipeline.py", [*args, "--output", out], work,
                  job_env())
        rc = job.wait(JOB_TIMEOUT_S)
        attempted += n_ops
        wall = job.ended - job.started
        res = None
        if rc == 0:
            try:
                res = check_batch(out, meta["labels"], audio_gate, passes)
            except (OSError, ValueError, KeyError) as e:
                res = {"errors": [f"output unreadable: {e!r}"]}
        if rc != 0 or res["errors"]:
            failed += n_ops
            errors += [f"exit {rc}"] if rc != 0 else res["errors"]
            _log(f"{workload}: job failed (exit {rc})\n{job.log_tail()}")
        else:
            ready = job.ready_at
            samples["setup_s"].append(ready - job.started)
            samples["job_wall_s"].append(wall)
            samples["clips_per_s"].append(
                meta["n_clips"] / (_last_commit(out, passes) - ready)
            )
            rss.append(job.peak_rss_mb)
            samples["keep_f1"].append(res["keep_f1"])
            samples["scrub_exact_frac"].append(res["scrub_exact_frac"])
            latencies += _file_latencies(out, job.started)
            _log(f"{workload}: job {wall:.2f}s setup "
                 f"{ready - job.started:.2f}s kept {res['kept']} "
                 f"rss {job.peak_rss_mb:.0f}MB strategy "
                 f"{res['chunk_strategy']}"
                 + (f" dup_recall {res['planted_dup_recall']:.3f}"
                    if "planted_dup_recall" in res else ""))
        shutil.rmtree(out, ignore_errors=True)
        elapsed = time.time() - t0
        if elapsed + 0.5 * wall > seconds or failed:
            break
    metrics = {k: statistics.median(v) for k, v in samples.items() if v}
    if latencies:
        metrics["file_latency_p50_s"] = statistics.median(latencies)
        metrics["file_latency_tail_s"], pct = tail_percentile(latencies)
        _log(f"{workload}: file latency tail = p{pct:.1f} of "
             f"{len(latencies)} files")
    if samples["keep_f1"]:
        metrics["keep_f1"] = min(samples["keep_f1"])
        metrics["scrub_exact_frac"] = min(samples["scrub_exact_frac"])
    return {"attempted": attempted, "failed": failed, "errors": errors,
            "metrics": metrics,
            "peak_rss_mb": statistics.median(rss) if rss else 0.0}


# ---- stream -------------------------------------------------------------


def sink_commits(out: str) -> list[tuple[int, float, list[str]]]:
    """(batch id, commit time, new data files) per committed batch of a
    file sink, from its ``_spark_metadata`` log (compacted entries
    listed again are not new)."""
    log_dir = os.path.join(out, "_spark_metadata")
    if not os.path.isdir(log_dir):
        return []
    entries = []
    for name in os.listdir(log_dir):
        stem = name.removesuffix(".compact")
        if stem.isdigit():
            entries.append((int(stem), os.path.join(log_dir, name)))
    seen: set[str] = set()
    commits = []
    for batch, path in sorted(entries):
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()[1:]
        files = [json.loads(ln)["path"] for ln in lines if ln.strip()]
        new = [p for p in files if p not in seen]
        seen.update(new)
        commits.append((batch, os.path.getmtime(path), new))
    return commits


def wait_for_batches(out: str, n: int, deadline: float,
                     alive=lambda: True) -> bool:
    """Poll the sink log until ``n`` batches have committed."""
    while time.time() < deadline and alive():
        if len(sink_commits(out)) >= n:
            return True
        time.sleep(0.05)
    return len(sink_commits(out)) >= n


class OpenLoop:
    """The stream workload's input side: every generated file hard-linked
    into ``staging``; the warm-up files moved into ``watch`` at once,
    the timed ones by the feeder process, one per STREAM_INTERVAL_S."""

    def __init__(self, meta: dict, seconds: float, work: str):
        self.meta, self.work = meta, work
        self.staging = os.path.join(work, "staging")
        self.watch = os.path.join(work, "watch")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        for d in (self.staging, self.watch):
            os.makedirs(d)
        self.names = [os.path.basename(p) for p in meta["files"]]
        for name, src in zip(self.names, meta["files"]):
            os.link(src, os.path.join(self.staging, name))
        self.warm = self.names[:STREAM_WARMUP_FILES]
        n_timed = min(len(self.names) - len(self.warm),
                      int(seconds / STREAM_INTERVAL_S))
        self.timed = self.names[len(self.warm) : len(self.warm) + n_timed]
        for name in self.warm:
            self._drop(name)
        self.sent: list[dict] = []

    def _drop(self, name: str) -> None:
        os.utime(os.path.join(self.staging, name))
        os.replace(os.path.join(self.staging, name),
                   os.path.join(self.watch, name))

    def feed(self) -> None:
        """Run the feeder process over the timed files; blocks until it
        has dropped the last one."""
        import subprocess

        sched = os.path.join(self.work, "sent.json")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "feeder.py"), self.staging,
             self.watch, repr(time.time() + 0.2), repr(STREAM_INTERVAL_S),
             sched, *self.timed],
            check=True,
        )
        with open(sched, encoding="utf-8") as f:
            self.sent = json.load(f)

    def analyze(self) -> dict:
        """Match committed rows to input files by clip_id: per timed
        file its latency (due -> commit of its rows), the backlog of
        dropped-but-uncommitted files, and the output checks."""
        import pyarrow.parquet as pq

        from check import expected_kept, score

        commit_of: dict[str, float] = {}
        kept_rows: list[tuple[str, str]] = []
        for _, t, files in sink_commits(self.out):
            for p in files:
                tbl = pq.read_table(p.removeprefix("file:"),
                                    columns=["clip_id", "transcript"])
                ids = tbl.column("clip_id").to_pylist()
                kept_rows += zip(ids, tbl.column("transcript").to_pylist())
                commit_of.update((cid, t) for cid in ids)
        file_of = {}
        for name, path in zip(self.names, self.meta["files"]):
            for cid in pq.read_table(path, columns=["clip_id"]).column(
                "clip_id"
            ).to_pylist():
                file_of[cid] = name
        sent_names = {s["name"] for s in self.sent}
        fed = set(self.warm) | sent_names
        expected = {
            cid: text
            for cid, text in expected_kept(self.meta["labels"], False).items()
            if file_of[cid] in fed
        }
        res = score(kept_rows, expected)
        committed_at: dict[str, float] = {}
        for cid, t in commit_of.items():
            f = file_of[cid]
            committed_at[f] = max(t, committed_at.get(f, 0.0))
        latencies, events = [], []
        for s in self.sent:
            t = committed_at.get(s["name"])
            if t is not None:
                latencies.append(t - s["due"])
                events += [(s["sent"], 1), (t, -1)]
        backlog = peak = 0
        for _, d in sorted(events):
            backlog += d
            peak = max(peak, backlog)
        return {
            **res,
            "latencies": latencies,
            "last_commit": max(
                (committed_at[n] for n in sent_names if n in committed_at),
                default=None),
            "timed_clips": sum(1 for f in file_of.values() if f in sent_names),
            "backlog_max_files": peak,
            "generator_late_s": max(
                (s["sent"] - s["due"] for s in self.sent), default=0.0),
        }


def run_stream(meta: dict, seconds: float, work: str) -> dict:
    from procs import Job

    loop = OpenLoop(meta, seconds, work)
    job = Job("jobs/run_stream.py",
              ["--mode", "quality", "--input", loop.watch, "--output",
               loop.out, "--checkpoint", loop.ckpt, "--blocklist",
               meta["blocklist"], "--max-files-per-trigger", "1"],
              work, job_env())

    def alive() -> bool:
        return job.proc.poll() is None

    errors: list[str] = []
    n_warm, n_all = len(loop.warm), len(loop.warm) + len(loop.timed)
    if wait_for_batches(loop.out, n_warm, job.started + JOB_TIMEOUT_S, alive):
        setup_s = sink_commits(loop.out)[n_warm - 1][1] - job.started
        loop.feed()
        if not wait_for_batches(loop.out, n_all,
                                time.time() + STREAM_DRAIN_S, alive):
            errors.append("stream did not drain the timed files")
    else:
        errors.append("warm-up files never committed")
    # Ctrl-C is how a continuous stream is stopped; the CLI then exits
    # non-zero from the interrupted wait, so an orderly stop is told
    # apart by the progress report its shutdown path writes
    job.interrupt()
    rc = job.wait(30.0)
    if rc != 0 and not os.path.exists(
        os.path.join(loop.out, "_stream_progress.json")
    ):
        errors.append(f"stream CLI exit {rc}")
        _log(f"stream_open: exit {rc}\n{job.log_tail()}")
    a = loop.analyze()
    errors += a["errors"]
    lat = a["latencies"]
    result = {"attempted": len(loop.timed), "errors": errors, "metrics": {},
              "failed": len(loop.timed) if errors else len(loop.timed) - len(lat),
              "backlog_max_files": a["backlog_max_files"],
              "generator_late_s": a["generator_late_s"],
              "peak_rss_mb": job.peak_rss_mb}
    if errors or not lat:
        return result
    tail, pct = tail_percentile(lat)
    result["metrics"] = {
        "setup_s": setup_s,
        "job_wall_s": a["last_commit"] - job.started,
        "clips_per_s": a["timed_clips"] / (
            a["last_commit"] - loop.sent[0]["due"]),
        "file_latency_p50_s": statistics.median(lat),
        "file_latency_tail_s": tail,
        "keep_f1": a["keep_f1"],
        "scrub_exact_frac": a["scrub_exact_frac"],
    }
    _log(f"stream_open: {len(lat)} files at 1/{STREAM_INTERVAL_S}s, tail = "
         f"p{pct:.1f}, backlog max {a['backlog_max_files']} files, generator "
         f"late max {a['generator_late_s'] * 1000:.1f} ms, kept {a['kept']}, "
         f"setup {setup_s:.2f}s")
    return result


# ---- entry --------------------------------------------------------------

UNITS = {
    "setup_s": "s", "clips_per_s": "clips/s", "job_wall_s": "s",
    "file_latency_p50_s": "s", "file_latency_tail_s": "s",
    "keep_f1": "ratio", "scrub_exact_frac": "ratio",
}


def run_one(workload: str, seed: int, seconds: float, trace: bool,
            clips: int) -> tuple[dict, dict[str, str]]:
    """One run on the input generated from ``seed``; returns the result
    and the units of the metrics it must report."""
    import gen

    meta = gen.generate(seed, clips)
    work = os.path.join(HERE, ".runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if trace:
            import trace_run

            return trace_run.run(workload, meta, seconds, work), trace_run.LAYERS
        if workload == "stream_open":
            return run_stream(meta, seconds, work), UNITS
        return run_batch(workload, meta, seconds, work), UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)


def smoke(seed: int) -> int:
    """Traced run of every workload on a tiny input, each in its own
    process: every per-layer metric must be reported, and each layer a
    workload exercises must read non-zero."""
    import subprocess

    import trace_run

    bad = []
    for workload in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             workload, "--seed", str(seed), "--seconds", "6", "--trace", "1",
             "--clips", str(SMOKE_CLIPS)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
        )
        lines = p.stdout.strip().splitlines()
        got = json.loads(lines[-1])["metrics"] if lines else {}
        if p.returncode:
            bad.append(f"{workload}: exit {p.returncode}")
        bad += [f"{workload}: {k} missing" for k in trace_run.LAYERS
                if k not in got]
        bad += [f"{workload}: {k} is 0" for k in trace_run.EXERCISED[workload]
                if k in got and not got[k]["value"]]
    for b in bad:
        _log(f"smoke: {b}")
    print(json.dumps({"smoke_ok": not bad, "problems": len(bad)}))
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--clips", type=int, default=N_CLIPS,
                   help="input size (the recorded workloads use the default)")
    p.add_argument("--smoke", action="store_true",
                   help="check that every traced metric is reported, on "
                        f"a {SMOKE_CLIPS}-clip input")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required")

    for need in ("jobs/run_pipeline.py", "jobs/run_stream.py",
                 "ungoliant_spark/plans/pipeline.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _log(f"missing {need}: run from a full checkout of the repository")
            return 2
    sys.path[:0] = [HERE, ROOT]
    import procs

    # every process started below this one is stopped and waited for on
    # every way out, a SIGTERM included
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _main(args)
    finally:
        if not procs.stop_descendants():
            _log("some started processes could not be stopped")


def _main(args: argparse.Namespace) -> int:
    if args.smoke:
        return smoke(args.seed)
    result, units = run_one(args.workload, args.seed, args.seconds,
                            bool(args.trace), args.clips)
    correct = not result["errors"] and set(result["metrics"]) == set(units)
    for e in result["errors"]:
        _log(f"check failed: {e}")
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            k: {"value": result["metrics"][k], "unit": units[k]}
            for k in units if k in result["metrics"]
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
