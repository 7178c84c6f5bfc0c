#!/usr/bin/env python3
"""The repository's benchmark: clips/s from a parquet clip table through
``run_pipeline`` to the checkpointed sink (``run_stage``: 64 buckets,
parquet data plus lineage), at ``local[nproc]``.

    python3 perfbench/run.py --workload text_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run it from the repository root.  One run generates (or reuses) its seeded
input, sets Spark up three times, makes three untimed warm-up passes,
measures closed-loop passes (one job at a time from this driver, each pass
scan to lineage commit) for ``--seconds``, and checks the committed output.
With ``--trace 1`` it then splits the pass into layers (see layers.py).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The lines before
it give every metric with its unit and spread, the host facts, the phase
times and the layer tables; the same record is written to
``.perfbench/records/``.  A run whose checks fail exits with code 1.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
N_BUCKETS = 64
STAGE = "pipeline"
SETUP_REPEATS = 3
# untimed full passes first: while the JVM compiles the scan's and the
# sink's hot paths the first pass after set-up takes about 2.5 times as
# long as a steady one, the next three 1.5, 1.2 and up to 1.2 times; the
# median of the measured passes absorbs that last one
WARM_UP_PASSES = 3
MIN_PASSES = 3
FILES_PER_CORE = 2
WARM_ROWS_PER_FILE = 32
# what the checkpointed job writes (tools/checkpointed_pipeline_job.py)
OUTPUT_COLUMNS = ["clip_id", "keep", "drop_reason", "scrubbed"]
# the end-to-end metrics with their units; a run reports exactly these
END_TO_END = {"clips_per_s": "clips/s", "setup_s": "s", "worker_peak_rss_mb": "MiB"}


@dataclass(frozen=True)
class Workload:
    name: str  # also the name of its input generator, see inputs.py
    rows_per_core: int
    with_audio: bool = False

    @property
    def columns(self) -> list[str]:
        return OUTPUT_COLUMNS + (["decode_ok"] if self.with_audio else [])


# Rows scale with the core count, so a pass takes about the same time on
# any host.  text_mix is the default clip mix: short rows, ~69% kept,
# ~18% of the scrubbed rows carry PII.  audio_mix is the same mix with
# audio, which takes run_pipeline's multimodal branch.  pii_dense (long
# rows, every one kept with >= 3 entities, so the scrub runs on all of
# them) is runnable here for scrub work but is not in BENCHMARK.json,
# which keeps a full benchmark round short.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("text_mix", 8000),
        Workload("audio_mix", 1000, with_audio=True),
        Workload("pii_dense", 3000),
    )
}


def host_facts() -> dict:
    """Host facts and the sizing derived from them."""
    import pyarrow
    import pyspark

    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=60,
        ).stdout.strip() or None
    src = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, "top_secret_spark")):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    src.update(f.read())
    return {
        "nproc": nproc,
        "ram_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": None,  # read from the JVM once it runs
        "python": platform.python_version(),
        "git_commit": commit,
        "package_sha256": src.hexdigest()[:16],
        # sizing: local[nproc], and N = nproc/4 for the N->4N scaling ratio
        "cores": nproc,
        "cores_n": max(1, nproc // 4),
        "driver_memory_mb": mem_kb // 1024 // 4,
    }


def cpu_times() -> list[int]:
    """Host CPU time so far by state, in ticks (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Share of host CPU time per state between two ``cpu_times`` reads;
    ``steal`` is time the hypervisor gave this host's CPUs to others."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: v / total for n, v in zip(names, d)}


def summary(values: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond it
    (None below 11 samples), the sample count and the range."""
    vs = sorted(values)
    n = len(vs)
    tail = None
    if n >= 11:
        pct = math.floor(100 * (n - 10) / n)
        tail = {"pct": pct, "value": vs[max(0, math.ceil(pct / 100 * n) - 1)]}
    return {"median": statistics.median(vs), "tail": tail, "n": n,
            "min": vs[0], "max": vs[-1]}


class Bench:
    """One workload run: its scratch directory, Spark session and passes."""

    n_buckets = N_BUCKETS
    stage = STAGE

    def __init__(self, workload: Workload, seed: int, host: dict):
        self.wl = workload
        self.seed = seed
        self.host = host
        self.work = os.path.join(STATE_DIR, f"run-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = os.path.join(self.work, "tmp")
        self.local_dir = os.path.join(self.work, "spark-local")
        os.makedirs(self.tmp)
        os.makedirs(self.local_dir)
        # keep every file Spark, the JVMs (spark-submit's launcher too) and
        # the Python workers write inside the checkout
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"]))
        tempfile.tempdir = self.tmp
        self.spark = None
        self.worker_pids: set[int] = set()

    # -- Spark lifecycle -------------------------------------------------
    def launch_jvm(self) -> None:
        """Start the JVM gateway (its launch settings need no session)."""
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized(conf=SparkConf().set(
            "spark.driver.memory", f"{self.host['driver_memory_mb']}m"))

    def start(self, cores: int):
        from pyspark.sql import SparkSession

        self.spark = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.local.dir", self.local_dir)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        from perfbench import sparkstats

        if self.spark is not None:
            self.worker_pids |= sparkstats.worker_pids()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every process it ran."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in self.worker_pids
        ):
            time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)

    # -- the production path ----------------------------------------------
    def pipeline(self, df, with_bucket: bool):
        from top_secret_spark.pipeline import PipelineConfig, run_pipeline

        config = PipelineConfig(include_audio=self.wl.with_audio)
        cols = self.wl.columns + (["bucket"] if with_bucket else [])
        return run_pipeline(df, config).select(*cols)

    def run_stage(self, root: str, paths, max_buckets=None):
        """One checkpointed pass over parquet ``paths``, scan to lineage
        commit."""
        from top_secret_spark.sources.checkpoint import run_stage

        if isinstance(paths, str):
            paths = [paths]
        return run_stage(
            self.spark, root, STAGE, self.spark.read.parquet(*paths),
            lambda df: self.pipeline(df, with_bucket=True), N_BUCKETS,
            max_buckets=max_buckets,
        )

    def timed_pass(self, root: str, paths) -> float:
        shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        self.run_stage(root, paths)
        return time.perf_counter() - t0

    def setup(self, cores: int, warm: str) -> float:
        """SparkSession start, ``ship_package`` and a first small batch
        through the pipeline, which starts every Python worker."""
        from top_secret_spark.util import ship_package

        t0 = time.perf_counter()
        spark = self.start(cores)
        ship_package(spark)
        self.pipeline(spark.read.parquet(warm), with_bucket=False) \
            .write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def write_warm_table(input_path: str, out: str) -> None:
    """The first rows of every input file, one file each."""
    import pyarrow.parquet as pq

    from perfbench.inputs import input_files

    os.makedirs(out)
    for path in input_files(input_path):
        table = pq.read_table(path).slice(0, WARM_ROWS_PER_FILE)
        pq.write_table(table, os.path.join(out, os.path.basename(path)))


def run_workload(wl: Workload, seed: int, seconds: float, trace: bool) -> int:
    from perfbench import checks, inputs, sparkstats

    host = host_facts()
    bench = Bench(wl, seed, host)
    report = {"workload": wl.name, "seed": seed, "seconds": seconds,
              "trace": trace, "host": host, "phases_s": {}}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        report["phases_s"][name] = now - clock
        clock = now

    try:
        # -- set-up: never part of a metric except setup_s ----------------
        # the JVM starts while the input is generated
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            jvm = pool.submit(bench.launch_jvm)
            n_files = FILES_PER_CORE * host["cores"]
            n_rows = wl.rows_per_core * host["cores"]
            input_path, generated = inputs.ensure_input(
                os.path.join(STATE_DIR, "inputs"), wl.name, seed, n_rows, n_files)
            warm = os.path.join(bench.work, "warm")
            write_warm_table(input_path, warm)
            report["input"] = {"path": os.path.relpath(input_path, ROOT),
                               "clips": n_rows, "files": n_files,
                               "generated": generated,
                               "generation_s": time.perf_counter() - clock}
            jvm.result()
        phase("generation_and_jvm_launch")

        setups = []
        for i in range(SETUP_REPEATS):
            if i:
                bench.stop()
            setups.append(bench.setup(host["cores"], warm))
        phase("setup")
        system = bench.spark._jvm.java.lang.System
        host["java"] = (f"{system.getProperty('java.vm.name')} "
                        f"{system.getProperty('java.version')}")

        roots = [os.path.join(bench.work, f"stage-{i}") for i in range(2)]
        for i in range(WARM_UP_PASSES):
            bench.timed_pass(roots[i % 2], input_path)
        phase("warm_up")

        # -- measurement: closed loop, one pass at a time -----------------
        walls = []
        cpu = cpu_times()
        t_start = time.perf_counter()
        while len(walls) < MIN_PASSES or time.perf_counter() - t_start < seconds:
            walls.append(bench.timed_pass(roots[len(walls) % 2], input_path))
        report["host_cpu_while_measuring"] = cpu_shares(cpu, cpu_times())
        rss = sparkstats.worker_peak_rss_mb()
        phase("measure")

        # -- checks: the last pass against the one before it, and a sample
        # against the scalar kernel references ------------------------------
        data, lineage = checks.read_stage(roots[(len(walls) - 1) % 2], STAGE)
        previous, _ = checks.read_stage(roots[len(walls) % 2], STAGE)
        pdf = inputs.read_input(input_path, ["clip_id", "codec", "transcript"])
        found = {}
        for name, (n, info) in {
            "lineage": checks.lineage_failures(lineage, N_BUCKETS, n_rows),
            "output": checks.output_failures(pdf["clip_id"], data, previous,
                                             wl.columns),
            "sample": checks.sample_failures(data, pdf, seed, wl.with_audio),
        }.items():
            found[name] = dict(info, failed=n)
        report["checks"] = found
        phase("checks")

        report["timings"] = {"pass_s": summary(walls), "setup_s": summary(setups)}
        report["end_to_end"] = {
            # clips/s at the median pass, scan start to lineage commit
            "clips_per_s": n_rows / report["timings"]["pass_s"]["median"],
            "setup_s": report["timings"]["setup_s"]["median"],
            "worker_peak_rss_mb": rss,
        }

        if trace:
            from perfbench import layers

            per_layer, tables, resume_failed = layers.traced_run(
                bench, input_path, warm, walls, n_rows)
            found["resume"] = {"failed": resume_failed}
            report["per_layer"] = per_layer
            report["layer_tables"] = tables
            phase("trace")
    finally:
        bench.shutdown()
    phase("shutdown")

    failed = min(sum(c["failed"] for c in found.values()), n_rows)
    report["error_rate"] = failed / n_rows
    if trace:
        from perfbench.layers import PER_LAYER

        per_layer["check.error_rate"] = report["error_rate"]
        metrics = {k: (per_layer[k], u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (report["end_to_end"][k], u) for k, u in END_TO_END.items()}
    print_report(report)
    os.makedirs(os.path.join(STATE_DIR, "records"), exist_ok=True)
    with open(os.path.join(STATE_DIR, "records",
                           f"{wl.name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": n_rows,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def print_report(report: dict) -> None:
    h = report["host"]
    print(f"perfbench {report['workload']} seed={report['seed']} "
          f"trace={int(report['trace'])}")
    print(f"host: nproc={h['nproc']} ram={h['ram_mb']}MiB spark={h['spark']} "
          f"pyarrow={h['pyarrow']} python={h['python']} java='{h['java']}' "
          f"commit={h['git_commit']} package={h['package_sha256']} "
          f"driver_memory={h['driver_memory_mb']}MiB local[{h['cores']}]")
    i = report["input"]
    print(f"input: {i['clips']} clips in {i['files']} files, "
          f"{'generated' if i['generated'] else 'cached'} in "
          f"{i['generation_s']:.2f} s (set-up, in no metric)")
    for name, value in report["end_to_end"].items():
        print(f"{name:<20} {value:.6g} {END_TO_END[name]}")
    for name, s in report["timings"].items():
        tail = (f"p{s['tail']['pct']} {s['tail']['value']:.6g} s" if s["tail"]
                else "no tail percentile below 11 samples")
        print(f"  {name}: median {s['median']:.6g} s, {tail}, n={s['n']}, "
              f"min {s['min']:.6g} s, max {s['max']:.6g} s")
    print(f"{'error_rate':<20} {report['error_rate']:.6g}")
    for name, c in report["checks"].items():
        print(f"check {name}: {json.dumps(c, default=str)}")
    print("phases: " + ", ".join(f"{k} {v:.2f} s"
                                 for k, v in report["phases_s"].items()))
    print("host CPU while measuring: " + ", ".join(
        f"{k} {100 * v:.1f}%" for k, v in report["host_cpu_while_measuring"].items()
        if v > 0))
    if "per_layer" in report:
        from perfbench.layers import PER_LAYER

        for name, value in report["per_layer"].items():
            print(f"{name:<40} {value:.6g} {PER_LAYER[name]}")
    for table in report.get("layer_tables", {}).values():
        print(table)


def run_all(args) -> int:
    """Each workload in its own process, in turn; exit 1 if any fails."""
    results = {}
    code = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, cwd=ROOT, check=False,
        )
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        results[name] = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
        code = code or proc.returncode or (1 if results[name] is None else 0)
    print("summary:")
    for name, r in results.items():
        if r is None:
            print(f"  {name}: FAILED (no result)")
            continue
        ms = ", ".join(f"{k}={v['value']:.6g} {v['unit']}"
                       for k, v in r["metrics"].items())
        print(f"  {name}: correct={r['correct']} failed={r['failed']}/"
              f"{r['attempted']} {ms}")
    print(json.dumps(results))
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "top_secret_spark")):
        print(f"perfbench: no top_secret_spark package under {ROOT}; run it "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if args.workload == "all":
        return run_all(args)
    return run_workload(WORKLOADS[args.workload], args.seed, args.seconds,
                        bool(args.trace))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
