"""Traced run: the workload's work re-composed in-process from the
layers' public functions, with Spark's event log on for this session
only, so each layer is measured from outside the program.

Each call into a layer runs inside a span (name, start, end) that
also sets the Spark job group, so the event-log counters of the jobs
it started are attributed to it (perfbench/eventlog.py). Spans are
flat, so a span's self time is its duration. Spans stay in memory and
go to ``spans.json`` in the run directory at the end.

Order of a batch trace: first the composed job exactly as
``jobs/run_pipeline.py`` runs it (cold session, so its time compares
with the untraced CLI run made first; the difference is
``trace.overhead_s``), then each layer alone over an input persisted
without timing, in a warm session (``*.busy_s``).

A stream trace runs the untraced stream first, then the same open
loop in-process against ``stream_quality_filter``, then the decide()
layers alone over the persisted input.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import time
from contextlib import contextmanager

import eventlog
import procs
import run as bench

LAYERS = {
    "session.start_s": "s",
    "scan.busy_s": "s", "scan.bytes_read_per_clip": "B",
    "heuristics.busy_s": "s", "heuristics.rows_out": "rows",
    "model_stage.busy_s": "s", "model_stage.python_s": "s",
    "model_stage.bytes_to_python": "B", "model_stage.bytes_from_python": "B",
    "model_stage.useful_frac": "ratio",
    "lid.busy_s": "s", "lid.python_s": "s", "lid.bytes_to_python": "B",
    "scrub.busy_s": "s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.skew": "ratio", "spill.bytes": "B",
    "chunk.wall_s_p50": "s", "commit.busy_s": "s",
    "chunk.python_passes": "count", "chunk.files_strategy": "bool",
    "audio_gate.busy_s": "s", "audio_gate.python_s": "s",
    "audio_gate.bytes_to_python": "B", "audio_dedup.busy_s": "s",
    "audio_dedup.planted_dup_recall": "ratio", "vad.busy_s": "s",
    "dedup.busy_s": "s", "dedup.edges": "count", "dedup.driver_cc": "bool",
    "stream.batch_s_p50": "s", "stream.overhead_s": "s",
    "stream.backlog_max_files": "files", "stream.generator_late_s": "s",
    "jvm.gc_s": "s", "jvm.cpu_frac": "ratio", "job.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
# layers each workload exercises: the smoke check requires them non-zero
# (dedup.edges and spill.bytes may be 0 on a small input)
EXERCISED = {
    "batch_job": [
        "session.start_s", "scan.busy_s", "scan.bytes_read_per_clip",
        "heuristics.busy_s", "heuristics.rows_out", "model_stage.busy_s",
        "model_stage.python_s", "model_stage.bytes_to_python",
        "model_stage.bytes_from_python", "model_stage.useful_frac",
        "scrub.busy_s", "shuffle.write_bytes", "shuffle.read_bytes",
        "shuffle.skew", "chunk.wall_s_p50", "commit.busy_s",
        "chunk.python_passes", "chunk.files_strategy", "audio_gate.busy_s",
        "audio_gate.python_s", "audio_gate.bytes_to_python",
        "audio_dedup.busy_s", "vad.busy_s", "dedup.busy_s",
        "dedup.driver_cc", "jvm.gc_s", "jvm.cpu_frac", "job.peak_rss_mb",
    ],
    "stream_open": [
        "session.start_s", "scan.busy_s", "scan.bytes_read_per_clip",
        "heuristics.busy_s", "heuristics.rows_out", "lid.busy_s",
        "lid.python_s", "lid.bytes_to_python", "scrub.busy_s",
        "stream.batch_s_p50", "stream.overhead_s",
        "stream.backlog_max_files", "stream.generator_late_s",
        "jvm.cpu_frac", "job.peak_rss_mb",
    ],
}
PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas)\b")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.spark = None
        self.current = "untimed"

    @contextmanager
    def span(self, name: str):
        self.current = name
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)
        rec = {"name": name, "start": time.time()}
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["self_s"] = rec["end"] - rec["start"]
            self.spans.append(rec)
            self.current = "untimed"
            if self.spark is not None:
                self.spark.sparkContext.setJobGroup("untimed", "untimed")

    def busy(self, name: str) -> float:
        return sum(s["self_s"] for s in self.spans if s["name"] == name)


def _session(tr: Tracer, log_dir: str):
    conf = " ".join(f"--conf {k}={v}" for k, v in eventlog.conf(log_dir).items())
    os.environ.update(bench.scratch_env(),
                      PYSPARK_SUBMIT_ARGS=f"{conf} pyspark-shell")
    from ungoliant_spark.session import get_spark

    with tr.span("session"):
        spark = get_spark("perfbench-trace")
    tr.spark = spark
    # the same runtime confs jobs/run_pipeline.py sets
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "1024")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def _stop_session(spark) -> None:
    """Stop the session and the JVM behind it, which exits when its
    stdin closes, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _python_nodes(df) -> int:
    """Python nodes in the physical plan of ``df``."""
    return len(PYTHON_NODES.findall(
        df._jdf.queryExecution().executedPlan().toString()))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _composed_batch(spark, tr: Tracer, meta: dict, out: str,
                    flags: list) -> dict:
    """The job's chunk loop and follow-on passes, span by span."""
    import jobs.run_pipeline as cli
    from ungoliant_spark.operators import dedup
    from ungoliant_spark.plans.checkpoint import (
        lineage_of, load_or_pin_chunk_plan, metrics_of,
    )
    from ungoliant_spark.plans.pipeline import run as pipeline_run
    from ungoliant_spark.sources.tables import SnapshotTable

    n_chunks = int(flags[flags.index("--chunks") + 1])
    audio_gate = "--audio-gate" in flags
    terms = cli.parse_blocklist(meta["blocklist"])
    pairs_of: dict[str, object] = {}
    near_dup = dedup.near_dup_components

    def recorded(nodes, pairs, *a, **k):
        # keep the edge table the driver-CC switch branches on; it is
        # counted after the span, so the count adds no time to it
        pairs_of.setdefault(tr.current, pairs)
        return near_dup(nodes, pairs, *a, **k)

    dedup.near_dup_components = recorded
    t0 = time.time()
    try:
        clips = spark.read.parquet(meta["clips_dir"])
        with tr.span("chunk_plan"):
            chunk_df, strategy = load_or_pin_chunk_plan(
                clips, n_chunks, os.path.join(out, "chunks.json"))
        tables = {n: SnapshotTable(os.path.join(out, n))
                  for n in ("kept", "lineage", "metrics")}
        passes = 0
        for k in range(n_chunks):
            cid = f"chunk-{k:05d}"
            with tr.span("chunk"):
                kept = pipeline_run(chunk_df(k), terms, None,
                                    audio_gate=audio_gate).cache()
                nodes = _python_nodes(kept)
                kept.count()
            with tr.span("commit"):
                tables["lineage"].append(lineage_of(kept, cid), cid)
                tables["metrics"].append(metrics_of(kept, cid), cid)
                tables["kept"].append(kept.drop("sentence_langs"), cid)
            kept.unpersist()
            passes += nodes
        kept_df = tables["kept"].read(spark)
        if "--dedup" in flags:
            with tr.span("dedup"), dedup.group_cache_scope():
                _write(dedup.simhash_components(
                    kept_df, id_col="clip_id", text_col="transcript"),
                    os.path.join(out, "dedup"))
        if "--vad" in flags:
            with tr.span("vad"):
                _write(cli.build_vad(kept_df), os.path.join(out, "vad"))
        if "--audio-dedup" in flags:
            with tr.span("audio_dedup"), dedup.group_cache_scope():
                _write(cli.build_audio_dedup(kept_df),
                       os.path.join(out, "audio_dedup"))
        wall = time.time() - t0
    finally:
        dedup.near_dup_components = near_dup
    edges = pairs_of["dedup"].count() if "dedup" in pairs_of else 0
    return {"wall": wall, "strategy": strategy, "plan_python_nodes": passes,
            "edges": edges}


def _heuristics(clips):
    from pyspark.sql import functions as F

    from ungoliant_spark.operators.annotators import apply_annotators
    from ungoliant_spark.operators.pfilter import apply_pfilter
    from ungoliant_spark.operators.trim import apply_trim

    h = apply_annotators(apply_pfilter(apply_trim(clips)))
    return h.withColumn(
        "heuristic_keep",
        F.col("trim_keep") & F.col("pfilter_keep") & F.col("annotation_keep"),
    )


def _persisted(df):
    df = df.persist()
    df.count()
    return df


def _layers(spark, tr: Tracer, meta: dict, stream: bool) -> dict:
    """Each layer alone over a persisted input, in a warm session."""
    from pyspark.sql import functions as F

    import jobs.run_pipeline as cli
    from ungoliant_spark.operators.blocklist import apply_blocklist
    from ungoliant_spark.operators.lid import apply_lid
    from ungoliant_spark.operators.model_stage import make_model_stage_udf
    from ungoliant_spark.operators.scrub import apply_scrub
    from ungoliant_spark.plans.pipeline import (
        audio_gate_columns, salted_repartition,
    )

    out = {}
    clips = spark.read.parquet(meta["clips_dir"])
    read0 = procs.tree_read_bytes(os.getpid())
    with tr.span("scan"):
        _noop(clips)
    out["scan.bytes_read_per_clip"] = (
        procs.tree_read_bytes(os.getpid()) - read0) / meta["n_clips"]
    clips = _persisted(clips)
    with tr.span("heuristics"):
        h = _persisted(_heuristics(clips))
    out["heuristics.rows_out"] = h.filter("heuristic_keep").count()
    if stream:
        with tr.span("lid"):
            d = _persisted(apply_lid(h.withColumn(
                "_lid_input",
                F.when(F.col("heuristic_keep"), F.col("lines")).otherwise(
                    F.array().cast("array<string>")),
            ), lines_col="_lid_input").withColumn(
                "keep", F.col("heuristic_keep") & F.col("lid_keep")))
        kept = d.filter("keep")
    else:
        model_in = F.when(
            F.col("heuristic_keep") & (F.size("lines") > 0),
            F.array_join(F.col("lines"), "\n"),
        )
        rows = h.count()
        out["model_stage.useful_frac"] = (
            h.filter(model_in.isNotNull()).count() / rows)
        with tr.span("model_stage"):
            d = _persisted(h.withColumn("_m", make_model_stage_udf()(model_in))
                           .withColumn("lang", F.col("_m.lang")))
        kept = d.filter(F.col("heuristic_keep") & F.col("lang").isNotNull())
    with tr.span("scrub"):
        s = _persisted(apply_scrub(apply_blocklist(
            kept, cli.parse_blocklist(meta["blocklist"]))))
    if not stream:
        with tr.span("shuffle"):
            _noop(salted_repartition(
                s.withColumn("lang_bucket", F.col("lang")),
                int(spark.conf.get("spark.sql.shuffle.partitions"))))
        with tr.span("audio_gate"):
            _persisted(audio_gate_columns(
                clips, extra=("afp", "frame_energy"))).unpersist()
    for df in (s, d, h, clips):
        df.unpersist()
    for name in ("scan", "heuristics", "model_stage", "lid", "scrub",
                 "audio_gate"):
        out[f"{name}.busy_s"] = tr.busy(name)
    return out


def _trace_batch(workload: str, meta: dict, work: str, tr: Tracer) -> dict:
    from check import check_batch

    base = bench.run_batch(workload, meta, 0, work)
    if base["errors"]:
        return {**base, "metrics": {}}
    flags, audio_gate, passes = bench.BATCH[workload]
    log_dir = os.path.join(work, "eventlog")
    spark = _session(tr, log_dir)
    out = os.path.join(work, "trace_out")
    os.makedirs(out)
    try:
        job = _composed_batch(spark, tr, meta, out, flags)
        res = check_batch(out, meta["labels"], audio_gate, passes)
        extra = _layers(spark, tr, meta, stream=False)
    finally:
        _stop_session(spark)
    groups = eventlog.collect(log_dir)

    def g(group: str, key: str) -> float:
        return groups.get(group, {}).get(key, 0.0)

    job_groups = ("chunk_plan", "chunk", "commit", "dedup", "vad",
                  "audio_dedup")
    chunks = [s["self_s"] for s in tr.spans if s["name"] == "chunk"]
    commits = [s["self_s"] for s in tr.spans if s["name"] == "commit"]
    n_chunks = len(chunks)
    cpu = sum(g(n, "cpu_s") for n in job_groups)
    base_e2e = meta["n_clips"] / base["metrics"]["clips_per_s"]
    m = {
        "model_stage.python_s": g("model_stage", "python_s"),
        "model_stage.bytes_to_python": g("model_stage", "bytes_to_python"),
        "model_stage.bytes_from_python": g("model_stage", "bytes_from_python"),
        "shuffle.write_bytes": g("shuffle", "shuffle_write_bytes"),
        "shuffle.read_bytes": g("shuffle", "shuffle_read_bytes"),
        "shuffle.skew": g("shuffle", "skew"),
        "spill.bytes": sum(g(n, "spill_bytes") for n in job_groups),
        "chunk.wall_s_p50": statistics.median(
            a + b for a, b in zip(chunks, commits)),
        "commit.busy_s": sum(commits),
        "chunk.python_passes": (
            (g("chunk", "python_stages") + g("commit", "python_stages"))
            / max(job["plan_python_nodes"], 1)),
        "chunk.files_strategy": float(job["strategy"] == "files"),
        "audio_gate.python_s": g("audio_gate", "python_s"),
        "audio_gate.bytes_to_python": g("audio_gate", "bytes_to_python"),
        "audio_dedup.busy_s": tr.busy("audio_dedup"),
        "audio_dedup.planted_dup_recall": res.get("planted_dup_recall", 0.0),
        "vad.busy_s": tr.busy("vad"),
        "dedup.busy_s": tr.busy("dedup"),
        "dedup.edges": float(job["edges"]),
        "dedup.driver_cc": float(any(
            cs.startswith("toPandas at") and "dedup.py" in cs
            for cs in groups.get("dedup", {}).get("call_sites", []))),
        "jvm.gc_s": sum(g(n, "gc_s") for n in job_groups),
        "jvm.cpu_frac": cpu / (job["wall"] * os.cpu_count()),
        "job.peak_rss_mb": base["peak_rss_mb"],
        "trace.overhead_s": job["wall"] - base_e2e,
        **extra,
    }
    bench._log(f"{workload} trace: {n_chunks} chunks, strategy "
               f"{job['strategy']}, traced job {job['wall']:.2f}s vs "
               f"untraced {base_e2e:.2f}s")
    return {"attempted": base["attempted"] + len(chunks),
            "failed": base["failed"], "errors": res["errors"], "metrics": m}


def _trace_stream(meta: dict, seconds: float, work: str, tr: Tracer) -> dict:
    import jobs.run_pipeline as cli
    from ungoliant_spark.streaming.quality_stream import stream_quality_filter

    os.makedirs(os.path.join(work, "base"))
    base = bench.run_stream(meta, seconds / 2, os.path.join(work, "base"))
    if base["errors"]:
        return base
    log_dir = os.path.join(work, "eventlog")
    spark = _session(tr, log_dir)
    os.makedirs(os.path.join(work, "traced"))
    loop = bench.OpenLoop(meta, seconds / 2, os.path.join(work, "traced"))
    n_warm, n_all = len(loop.warm), len(loop.warm) + len(loop.timed)
    errors = []
    try:
        q = stream_quality_filter(
            spark, loop.watch, loop.out, loop.ckpt,
            term_to_category=cli.parse_blocklist(meta["blocklist"]),
            max_files_per_trigger=1)
        run_id = str(q.runId)
        bench.wait_for_batches(loop.out, n_warm,
                               time.time() + bench.JOB_TIMEOUT_S / 2)
        with tr.span("stream"):
            loop.feed()
            if not bench.wait_for_batches(
                    loop.out, n_all, time.time() + bench.STREAM_DRAIN_S):
                errors.append("traced stream did not drain")
        # a batch's progress event is posted just after its sink commit
        deadline = time.time() + 10
        while True:
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(progress) >= n_all or time.time() > deadline:
                break
            time.sleep(0.1)
        q.stop()
        extra = _layers(spark, tr, meta, stream=True)
    finally:
        _stop_session(spark)
    a = loop.analyze()
    errors += a["errors"]
    st = eventlog.collect(log_dir).get(run_id, {})
    timed = progress[n_warm:]
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
    over = [t - p["durationMs"].get("addBatch", 0) / 1e3
            for t, p in zip(trig, timed)]
    m = {
        "lid.python_s": st.get("python_s", 0.0),
        "lid.bytes_to_python": st.get("bytes_to_python", 0.0),
        "spill.bytes": st.get("spill_bytes", 0.0),
        "stream.batch_s_p50": statistics.median(trig) if trig else 0.0,
        "stream.overhead_s": statistics.median(over) if over else 0.0,
        "stream.backlog_max_files": float(base["backlog_max_files"]),
        "stream.generator_late_s": base["generator_late_s"],
        "jvm.gc_s": st.get("gc_s", 0.0),
        "job.peak_rss_mb": base["peak_rss_mb"],
        "jvm.cpu_frac": st.get("cpu_s", 0.0) / (
            tr.busy("stream") * os.cpu_count()),
        "trace.overhead_s": (
            statistics.median(a["latencies"])
            - base["metrics"]["file_latency_p50_s"]
        ) if a["latencies"] else 0.0,
        **extra,
    }
    bench._log(f"stream_open trace: {len(timed)} timed batches, trigger p50 "
               f"{m['stream.batch_s_p50']:.3f}s")
    return {"attempted": base["attempted"] + len(loop.timed),
            "failed": base["failed"], "errors": errors, "metrics": m}


def run(workload: str, meta: dict, seconds: float, work: str) -> dict:
    tr = Tracer()
    if workload == "stream_open":
        result = _trace_stream(meta, seconds, work, tr)
    else:
        result = _trace_batch(workload, meta, work, tr)
    if result["metrics"]:
        result["metrics"]["session.start_s"] = tr.busy("session")
        result["metrics"] = {**{k: 0.0 for k in LAYERS}, **result["metrics"]}
    with open(os.path.join(bench.HERE, ".runs", f"spans-{workload}.json"),
              "w", encoding="utf-8") as f:
        json.dump(tr.spans, f)
    return result
