"""The traced run: the pass split into its layers.

Each layer is timed from outside, by a span around a call into its public
functions, and Spark's own SQL and task metrics are read from the status
stores after each call:

* the pass itself (``run_stage`` over ``run_pipeline``), twice, traced;
* ``scan``: the parquet input read, its rows dropped;
* ``pipeline``: ``run_pipeline`` over the same bucketed input, its rows
  dropped, minus the scan; its Python node gives the Arrow transfer
  figures (scan and pipeline metrics are read raw from the executed plan);
* ``sources.checkpoint``: ``run_stage`` over already-computed pipeline
  output, split into the data write and the lineage bookkeeping; then
  the resume path: ``completed_buckets`` and ``run_stage`` over the state
  of a run killed after half the buckets;
* ``kernel.*`` / ``operators.*``: in this process, over the input cut
  into the stage's own task and Arrow batch sizes (``fused_text_frame``,
  its kernels one by one and ``append_audio_feature_columns``);
* ``arrow.python_boot/init``: a first batch on freshly started workers;
* ``scaling_eff``: the pass at local[nproc/4] over a quarter of the input.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import uuid

import numpy as np

from perfbench import checks, inputs, sparkstats
from perfbench.trace import Tracer, duration, format_table, layer_table

TRACED_PASSES = 2
SCALING_PASSES = 2
MIB = float(1 << 20)


def _discard(df) -> list:
    """Run ``df``'s physical plan and drop its rows; return the raw
    metrics of the plan's nodes (sparkstats.plan_metrics)."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return sparkstats.plan_metrics(qe.executedPlan())


def _traced_call(spark, tracer: Tracer, name: str, fn) -> dict:
    """Run ``fn`` in a span of its own job group; return the span's wall
    time, the tasks and SQL executions it ran, and ``fn``'s result."""
    group = f"{name}-{uuid.uuid4().hex[:8]}"
    spark.sparkContext.setJobGroup(group, name)
    before = sparkstats.last_execution_id(spark)
    with tracer.span(name) as span:
        result = fn()
    spark.sparkContext.setJobGroup(None, None)
    tasks = sparkstats.job_tasks(spark, sparkstats.group_jobs(spark, group))
    return {
        "wall_s": duration(span),
        "tasks": tasks,
        "task_s": sum(t["run_s"] for t in tasks),
        "executions": sparkstats.executions_since(spark, before),
        "result": result,
    }


def _python_node(nodes: list) -> dict:
    for prefix in ("ArrowEvalPython", "MapInPandas"):
        m = sparkstats.node_metrics(nodes, prefix)
        if m:
            return m
    raise RuntimeError("no Python node in the pipeline's executed plan")


def _write_execution(call: dict) -> dict:
    """The first execution that inserts files: run_stage's data write
    (the lineage write comes after it)."""
    for ex in call["executions"]:
        if sparkstats.node_metrics(ex["nodes"], "Execute InsertIntoHadoopFsRelationCommand"):
            return ex
    raise RuntimeError("run_stage wrote no data")


def kernel_split(tracer: Tracer, input_path: str, task_rows: list[int],
                 batch_rows: int) -> None:
    """Time append_audio_feature_columns, fused_text_frame and, separately,
    each kernel fused_text_frame calls, over the input cut as the stage
    cuts it: one slice per task of the sizes ``task_rows``, each cut into
    Arrow batches of ``batch_rows``.  (Text workloads do not decode in
    their stage; their empty payloads still time the decode layer.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from top_secret_spark.kernel.langid import detect_batch
    from top_secret_spark.kernel.perplexity import perplexity_batch
    from top_secret_spark.kernel.quality import (
        batch_char_signals,
        dup_line_frac,
        keep_drop_vector,
        top_bigram_frac,
    )
    from top_secret_spark.kernel.scrub import scrub_batch
    from top_secret_spark.kernel.toxicity import TOXICITY_PATTERN
    from top_secret_spark.operators.audio import append_audio_feature_columns
    from top_secret_spark.operators.fused import fused_text_frame
    from top_secret_spark.pipeline import DEFAULT_PIPELINE as cfg

    span = tracer.span
    table = pa.concat_tables(pq.read_table(f) for f in inputs.input_files(input_path))
    starts = np.cumsum([0] + task_rows[:-1])
    for start, rows in zip(starts, task_rows):
        for offset in range(0, rows, batch_rows):
            pdf = table.slice(start + offset, min(batch_rows, rows - offset)).to_pandas()
            with span("operators.audio.decode", rows=len(pdf)):
                pdf = append_audio_feature_columns(pdf)
            texts = pdf["transcript"]
            with span("operators.fused", rows=len(texts)):
                fused_text_frame(texts, None, cfg.scrub, cfg.thresholds,
                                 cfg.scrub_dropped)
            t = texts.tolist()
            with span("kernel.langid"):
                langs, confs = detect_batch(t)
            with span("kernel.perplexity"):
                ppls = perplexity_batch(t)
            s = texts.fillna("")
            with span("kernel.quality.char_signals",
                      nonascii_rows=sum(not x.isascii() for x in s)):
                n_chars, n_words, n_alsp, n_dig, has_nl = batch_char_signals(s)
            denom = n_chars.clip(min=1)
            symbol, digit = (n_chars - n_alsp) / denom, n_dig / denom
            tox = (s.str.lower().str.count(TOXICITY_PATTERN, flags=re.ASCII)
                   .to_numpy() / n_words.clip(min=1))
            nl_rows, big_rows = np.flatnonzero(has_nl), np.flatnonzero(n_words >= 8)
            with span("kernel.quality.repetition",
                      rows=len(np.union1d(nl_rows, big_rows))):
                dup = np.zeros(len(t))
                for i in nl_rows:
                    dup[i] = dup_line_frac(t[i] or "")
                big = np.zeros(len(t))
                for i in big_rows:
                    big[i] = top_bigram_frac(t[i] or "")
            with span("kernel.quality.keep_drop") as kd:
                keep, _ = keep_drop_vector(n_chars, n_words, symbol, digit, dup,
                                           big, tox, langs, confs, ppls,
                                           cfg.thresholds)
            kd["counts"].update(rows=len(t), kept=int(keep.sum()))
            kept = np.flatnonzero(keep)
            with span("kernel.scrub", rows=len(kept)) as sc:
                _, mappings = scrub_batch([t[i] for i in kept], None, cfg.scrub)
            sc["counts"].update(entities=sum(len(m) for m in mappings),
                                hits=sum(1 for m in mappings if m))


KERNELS = ("kernel.langid", "kernel.perplexity", "kernel.quality.char_signals",
           "kernel.quality.repetition", "kernel.quality.keep_drop", "kernel.scrub")

# every per-layer metric with its unit; the traced run reports exactly these
PER_LAYER = {
    "scan.s": "s",
    "scan.rows": "count",
    "scan.mb": "MiB",
    "arrow.python_total_task_s": "s",
    "arrow.python_init_task_s": "s",
    "arrow.python_boot_task_s": "s",
    "arrow.sent_mb": "MiB",
    "arrow.received_mb": "MiB",
    "arrow.batches": "count",
    "pipeline.stage_s": "s",
    "pipeline.task_skew": "ratio",
    **{f"{k}.s": "s" for k in KERNELS},
    "kernel.quality.nonascii_rows": "count",
    "kernel.quality.repetition.rows": "count",
    "kernel.quality.kept_frac": "ratio",
    "kernel.scrub.rows": "count",
    "kernel.scrub.entities": "count",
    "kernel.scrub.hit_ratio": "ratio",
    "operators.fused.s": "s",
    "operators.fused.assembly_s": "s",
    "operators.audio.decode_s": "s",
    "sources.checkpoint.write_s": "s",
    "sources.checkpoint.lineage_s": "s",
    "sources.checkpoint.shuffle_mb": "MiB",
    "sources.checkpoint.bytes_written": "B",
    "sources.checkpoint.files_written": "count",
    "sources.checkpoint.pending_buckets": "count",
    "sources.checkpoint.resume_s": "s",
    "scaling_eff": "ratio",
    "trace.overhead": "ratio",
    "trace.unattributed_frac": "ratio",
    "check.error_rate": "ratio",
}


def traced_run(bench, input_path: str, warm: str, walls: list[float],
               n_rows: int) -> tuple[dict, dict, int]:
    """Per-layer metrics {name: value} (all of PER_LAYER but
    ``check.error_rate``), the printed layer tables and the clips the
    resume check found wrong."""
    from pyspark.sql import functions as F

    from top_secret_spark.sources.checkpoint import completed_buckets, run_stage

    spark = bench.spark
    n_buckets, stage = bench.n_buckets, bench.stage
    tracer = Tracer(uuid.uuid4().hex[:12])

    def call(name, fn):
        return _traced_call(spark, tracer, name, fn)

    work = bench.work
    m: dict = {}

    # -- the pass, traced --------------------------------------------------
    root = os.path.join(work, "traced")
    passes = []
    for _ in range(TRACED_PASSES):
        shutil.rmtree(root, ignore_errors=True)
        passes.append(call("pass", lambda: bench.run_stage(root, input_path)))
    stage_wall = statistics.median(p["wall_s"] for p in passes)
    m["trace.overhead"] = stage_wall / statistics.median(walls) - 1

    # -- scan, pipeline: the pass's input, bucketed and filtered as run_stage
    # does, its rows dropped -----------------------------------------------
    def bucketed():
        df = spark.read.parquet(input_path)
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("clip_id"), F.lit(n_buckets)).cast("int")
        ).filter(F.col("bucket").isin(list(range(n_buckets))))

    scan = call("scan", lambda: _discard(spark.read.parquet(input_path)))
    scan_node = sparkstats.node_metrics(scan["result"], "Scan parquet")
    m["scan.s"] = scan["wall_s"]
    m["scan.rows"] = scan_node["numOutputRows"]
    m["scan.mb"] = scan_node["filesSize"] / MIB

    pipe = call("pipeline", lambda: _discard(bench.pipeline(bucketed(), True)))
    py = _python_node(pipe["result"])
    m["arrow.python_total_task_s"] = py["pythonTotalTime"]
    m["arrow.sent_mb"] = py["pythonDataSent"] / MIB
    m["arrow.received_mb"] = py["pythonDataReceived"] / MIB
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    m["arrow.batches"] = sum(-(-t["records"] // batch_rows) for t in pipe["tasks"])
    durations = [t["duration_s"] for t in pipe["tasks"]]
    m["pipeline.stage_s"] = pipe["wall_s"] - scan["wall_s"]
    m["pipeline.task_skew"] = max(durations) / statistics.median(durations)

    # -- checkpoint: run_stage over already-computed pipeline output ----------
    pre = os.path.join(work, "precomputed")
    with tracer.span("materialize"):
        bench.pipeline(spark.read.parquet(input_path), False).write.parquet(pre)
    ck = call("sources.checkpoint.run_stage", lambda: run_stage(
        spark, os.path.join(work, "ckpt"), stage, spark.read.parquet(pre),
        lambda df: df, n_buckets))
    wr = _write_execution(ck)
    insert = sparkstats.node_metrics(wr["nodes"], "Execute InsertIntoHadoopFsRelationCommand")
    write_task_s = sum(t["run_s"] for t in sparkstats.job_tasks(spark, wr["jobs"]))
    m["sources.checkpoint.write_s"] = wr["wall_s"]
    m["sources.checkpoint.lineage_s"] = ck["wall_s"] - wr["wall_s"]
    m["sources.checkpoint.shuffle_mb"] = sparkstats.node_metrics(wr["nodes"], "Exchange").get(
        "shuffle bytes written", 0.0) / MIB
    m["sources.checkpoint.bytes_written"] = insert["written output"]
    m["sources.checkpoint.files_written"] = insert["number of written files"]

    # -- the resume path: a run killed after half the buckets, resumed; its
    # output must equal the fresh pass's -------------------------------------
    resume_root = os.path.join(work, "resume")
    with tracer.span("kill_after_half"):
        bench.run_stage(resume_root, input_path, max_buckets=n_buckets // 2)
    done = call("sources.checkpoint.completed_buckets",
                   lambda: completed_buckets(spark, resume_root, stage))
    resume = call("sources.checkpoint.resume",
                     lambda: bench.run_stage(resume_root, input_path))
    m["sources.checkpoint.pending_buckets"] = n_buckets - len(done["result"])
    m["sources.checkpoint.resume_s"] = resume["wall_s"]
    fresh, _ = checks.read_stage(root, stage)
    resumed, resumed_lineage = checks.read_stage(resume_root, stage)
    resume_failed, _ = checks.lineage_failures(resumed_lineage, n_buckets,
                                               int(m["scan.rows"]))
    n, resume_info = checks.output_failures(fresh["clip_id"], resumed, fresh,
                                            bench.wl.columns)
    resume_failed += n

    # -- kernels and operators, in this process -------------------------------
    kernel_split(tracer, input_path, [t["records"] for t in pipe["tasks"]],
                 batch_rows)
    for k in KERNELS:
        m[f"{k}.s"] = tracer.total(k)
    m["kernel.quality.nonascii_rows"] = tracer.count(
        "kernel.quality.char_signals", "nonascii_rows")
    m["kernel.quality.repetition.rows"] = tracer.count("kernel.quality.repetition", "rows")
    m["kernel.quality.kept_frac"] = (tracer.count("kernel.quality.keep_drop", "kept")
                                     / tracer.count("kernel.quality.keep_drop", "rows"))
    scrubbed = tracer.count("kernel.scrub", "rows")
    m["kernel.scrub.rows"] = scrubbed
    m["kernel.scrub.entities"] = tracer.count("kernel.scrub", "entities")
    m["kernel.scrub.hit_ratio"] = (tracer.count("kernel.scrub", "hits") / scrubbed
                                   if scrubbed else 0.0)
    m["operators.fused.s"] = tracer.total("operators.fused")
    m["operators.fused.assembly_s"] = m["operators.fused.s"] - sum(
        tracer.total(k) for k in KERNELS)
    m["operators.audio.decode_s"] = tracer.total("operators.audio.decode")

    # -- the layer tables ------------------------------------------------------
    pass_table = layer_table(stage_wall, passes[-1]["task_s"], [
        ("scan", scan["wall_s"], scan["task_s"]),
        ("pipeline (minus scan)", m["pipeline.stage_s"], pipe["task_s"] - scan["task_s"]),
        ("sources.checkpoint.write", wr["wall_s"], write_task_s),
        ("sources.checkpoint.lineage", m["sources.checkpoint.lineage_s"],
         ck["task_s"] - write_task_s),
    ])
    m["trace.unattributed_frac"] = pass_table["unattributed_frac"]
    # in-process seconds are one thread's: they stand in for task seconds
    parts = [("operators.audio.decode", m["operators.audio.decode_s"])] \
        if bench.wl.with_audio else []
    parts += [(k, tracer.total(k)) for k in KERNELS]
    parts.append(("operators.fused assembly", m["operators.fused.assembly_s"]))
    python_total = m["arrow.python_total_task_s"]
    python_table = layer_table(python_total, python_total,
                               [(n, v, v) for n, v in parts])
    tables = {
        "pass": format_table(
            "layer split of the pass (wall: one separate call per layer)", pass_table),
        "python": format_table(
            "layer split of the Python node's run time (task-s; parts timed "
            "in-process over the same batches; residual = Arrow transfer, "
            "conversion and contention)", python_table),
        "resume": (f"resume: {m['sources.checkpoint.pending_buckets']} pending "
                   f"buckets, {resume['wall_s']:.3f} s; output vs the fresh "
                   f"pass: {resume_info}"),
    }

    # -- Python worker start-up: the first batch on fresh workers, as in
    # set-up (reused workers report no boot, and an init that includes
    # their idle time between tasks) -------------------------------------
    from top_secret_spark.util import ship_package

    bench.stop()
    ship_package(bench.start(bench.host["cores"]))
    cold = _python_node(_discard(bench.pipeline(bench.spark.read.parquet(warm), False)))
    m["arrow.python_boot_task_s"] = cold["pythonBootTime"]
    m["arrow.python_init_task_s"] = cold["pythonInitTime"]

    # -- scaling: local[nproc] vs local[nproc/4] over a quarter of the input --
    m["scaling_eff"] = scaling_eff(bench, input_path, warm, walls, n_rows)
    traces = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.write(os.path.join(traces, f"{bench.wl.name}-seed{bench.seed}.json"))
    return m, tables, resume_failed


def scaling_eff(bench, input_path: str, warm: str, walls: list[float],
                n_rows: int) -> float:
    """clips/s at local[nproc] / (nproc/N x clips/s at local[N]), N =
    nproc/4, the N arm over the first quarter of the input files."""
    import pyarrow.parquet as pq

    host = bench.host
    files = inputs.input_files(input_path)
    quarter = files[: max(1, len(files) * host["cores_n"] // host["cores"])]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in quarter)
    bench.stop()
    bench.setup(host["cores_n"], warm)
    root = os.path.join(bench.work, "scaling")
    arm = [bench.timed_pass(root, quarter) for _ in range(SCALING_PASSES)]
    cps_n = rows / statistics.median(arm)
    cps_4n = n_rows / statistics.median(walls)
    return cps_4n / (host["cores"] / host["cores_n"] * cps_n)
