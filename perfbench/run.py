"""Benchmark of the flagship stage, plans.stage.run_stage: scan -> udfs scoring
pass -> (bucket, salt) exchange -> partitioned write -> lineage/metrics commit.

    python3 perfbench/run.py --workload caption_heavy --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. One driver process runs Spark at
local[nproc] with one job in flight (a closed loop): each run_stage call
starts when the previous one and its output check have finished. Workloads:

- caption_heavy: 1-2k char captions dense in PII and toxicity, 24 px images,
  scored with the broadcast 20k-name gazetteer and a synthetic ARPA LM. The
  Python scoring pass is the largest share of the stage.
- resume_partial: the synth caption mix with 24 px images and a completed
  prior run staged before timing; each timed call is run_stage(resume=True)
  after a quarter of the buckets lost their lineage and half their data
  files. The done lookup, dynamic partition overwrite and lineage commit
  carry most of the time, and the kernel little.

An image-payload workload (exchange and write dominant) is left out: every
run pays a cold JVM launch, a prior or warm-up run and the output checks, and
a third workload's runs do not fit the benchmark's time budget.

Every run_stage call's output is read back with pyarrow and checked row by
row against expected values computed once per run from the pure-Python
kernels, and the buckets it rewrote against the buckets it had to (see
oracle.py); a mismatch makes the call fail and the benchmark report
``correct: false``. setup_s is one cold set-up per run: JVM launch, session
start, model broadcast and Python-worker warm-up.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same loop twice,
once as usual and once with Spark's event log on and spans around the
benchmark's calls into the program, and prints the per-layer metrics. The
last line of stdout is the result object; the full record, with box facts,
is also written to .perfbench_work/records/.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DRIVER_MEM = "2g"
YOUNG_GEN = "256m"
# The (bucket, salt) layout keeps the density of the CLI's documented sandbox
# run (--synthetic 100000 at the default 64 buckets x 8 salt: about 1560 rows
# per bucket) at the benchmark's smaller tables, with the default salt factor.
# At 64 x 8 a benchmark-sized table is split into 512 tiny write tasks whose
# overhead hides every other layer.
CLI_SANDBOX_ROWS = 100_000
ARROW_BATCH = 4096  # spark.sql.execution.arrow.maxRecordsPerBatch, as the CLI sets it
KERNEL_BATCH = 512  # rows per udfs.score_batch call in the single-core kernel timing

# "warm": untimed run_stage calls before the timed loop, the prior run of
# resume_partial included. The call time settles after about seven calls on
# resume_partial (measured: a 60 s window after three warm-up calls ran
# 3.6, 3.3, 3.0, 2.8 s, then 2.5-3.1 s) and after about four on the shorter
# caption_heavy calls.
WORKLOADS = {
    "caption_heavy": {"rows": 3000, "models": True, "torn": 0.0, "warm": 3},
    "resume_partial": {"rows": 25000, "models": False, "torn": 0.25, "warm": 6},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_conf(cores: int, work: str, event_dir: str | None) -> dict:
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench-stage",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.pyspark.python": sys.executable,
        # A fixed heap size and young generation. G1's adaptive sizing is
        # settled by GC-timing noise: each heap expansion moved eden onto
        # fresh pages, and RSS differed by 10-20% between identical runs.
        # With both fixed, RSS follows what the stage holds (old generation,
        # native memory, Python workers); the heap is not pre-touched, so
        # pages the JVM never uses do not count. JVM temp files stay in the
        # work dir and no perf-data file is written to the system temp dir.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def box_facts(conf: dict, seed: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": nproc(), "git_sha": sha, "python": platform.python_version(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "spark_conf": conf, "seed": seed,
        "host": platform.node(),
    }


class Bench:
    def __init__(self, name: str, seed: int, work: str, tracer):
        self.name, self.seed, self.work, self.tracer = name, seed, work, tracer
        self.spec = WORKLOADS[name]
        self.cores = nproc()
        from pii_detection_service_spark.plans import stage

        self.layout = {
            "n_buckets": max(1, round(self.spec["rows"] * stage.DEFAULT_BUCKETS / CLI_SANDBOX_ROWS)),
            "salt_factor": stage.SALT_FACTOR,
        }
        self.spark = None
        self.models = {}
        self.record: dict = {"workload": name, "layout": self.layout}

    # ---- inputs -----------------------------------------------------------
    def prepare(self):
        import inputs as gen
        import oracle
        from pii_detection_service_spark.functions import quality
        from pii_detection_service_spark.sources import synth

        t0 = time.perf_counter()
        make = {"caption_heavy": gen.caption_heavy, "resume_partial": gen.synth_mix}[self.name]
        tbl = make(self.seed, self.spec["rows"])
        self.input_dir = os.path.join(self.work, "input")
        gen.write_table(tbl, self.input_dir, 2 * self.cores)
        # the warm-up table and the single-core scaling table
        self.warm_dir = os.path.join(self.work, "warm")
        gen.write_table(tbl.slice(0, 64 * self.cores), self.warm_dir, self.cores)
        self.small_rows = self.spec["rows"] // self.cores
        self.small_dir = os.path.join(self.work, "small")
        gen.write_table(tbl.slice(0, self.small_rows), self.small_dir, 2)
        self.captions = tbl.column("caption").to_pylist()
        self.arpa_path = self.gazetteer = None
        if self.spec["models"]:
            self.arpa_path = os.path.join(self.work, "synth.arpa")
            quality.export_synth_arpa(self.arpa_path)
            self.gazetteer = synth.synth_gazetteer()
        self.record["input_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        gaz = None
        if self.gazetteer is not None:  # as artifacts.broadcast_gazetteer builds it
            from pii_detection_service_spark.functions.tagger import FIRST_NAMES
            gaz = frozenset(FIRST_NAMES | {n.lower() for n in self.gazetteer})
        self.expected = oracle.expected(tbl, gaz, self.arpa_path, self.cores)
        self.record["oracle_s"] = time.perf_counter() - t0
        self.record["expected_digest"] = oracle.digest(self.expected)
        self.record["rows"] = tbl.num_rows

    # ---- set-up -----------------------------------------------------------
    def start(self, cores: int, event_dir: str | None = None, fresh_jvm: bool = True) -> float:
        """Session start (in a fresh JVM unless ``fresh_jvm`` is false), model
        broadcast and Python-worker warm-up (the scoring pass over a small
        table). Returns its wall time."""
        from pyspark.sql import SparkSession

        from pii_detection_service_spark.plans import stage
        from pii_detection_service_spark.sources import artifacts

        self.stop(end_jvm=fresh_jvm)
        t0 = time.perf_counter()
        b = SparkSession.builder
        self.conf = spark_conf(cores, self.work, event_dir)
        for k, v in self.conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.models = {}
        if self.spec["models"]:
            with self.tracer.span("sources.artifacts.broadcast"):
                self.models = {
                    "lm_bc": artifacts.broadcast_arpa_lm(self.spark, self.arpa_path),
                    "gaz_bc": artifacts.broadcast_gazetteer(self.spark, self.gazetteer),
                }
        # every core starts a Python worker and loads the broadcast models
        warm = self.spark.read.parquet(self.warm_dir)
        stage.score(warm, **self.models).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def stop(self, end_jvm: bool = True):
        """Stop the session and, unless ``end_jvm`` is false, end its JVM
        (and with it the Python workers), so the next start() pays the JVM
        launch a real run pays. Returns once the JVM and every process it
        started have ended."""
        import procfs
        from pyspark import SparkContext

        gw = SparkContext._gateway if end_jvm else None
        # taken before the session stops: stopping it ends the Python
        # workers, but does not wait for them
        tree = procfs.descendants(gw.proc.pid) if gw is not None else []
        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
        finally:
            if gw is not None:
                SparkContext._gateway = SparkContext._jvm = None
                try:
                    gw.shutdown()
                finally:
                    gw.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
                    try:
                        gw.proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        gw.proc.kill()
                        gw.proc.wait()
                    procfs.wait_gone(tree)

    def heap_pools(self):
        jvm = self.spark.sparkContext._jvm
        return [p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
                if p.getType().name() == "HEAP"]

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    # ---- the timed call ---------------------------------------------------
    def stage_prior(self):
        """resume_partial: one complete prior run, kept pristine and copied
        before every timed call, and the choice of buckets to tear."""
        import oracle
        import pyarrow.parquet as pq
        from pii_detection_service_spark.plans import stage

        self.prior = os.path.join(self.work, "prior")
        shutil.rmtree(self.prior, ignore_errors=True)
        src = self.spark.read.parquet(self.input_dir)
        t0 = time.perf_counter()
        m = stage.run_stage(self.spark, src, self.prior, **self.layout, **self.models)
        self.record["prior_s"] = time.perf_counter() - t0
        oracle.check_stage_output(self.prior, self.expected, m, None, set(self.data_files(self.prior)))
        lin = pq.read_table(os.path.join(self.prior, "lineage")).to_pydict()
        counts = dict(zip(lin["bucket"], lin["n_rows"]))
        hot = max(counts, key=counts.get)
        n_torn = round(self.spec["torn"] * len(counts))
        # never the hot (duplicate-cluster) bucket; of the other sets of
        # n_torn buckets, the one whose rows come closest to the torn share
        # of the table, so every seed leaves about the same rows pending
        target = self.spec["torn"] * sum(counts.values())
        best = min(itertools.combinations(sorted(b for b in counts if b != hot), n_torn),
                   key=lambda c: abs(sum(counts[b] for b in c) - target))
        self.torn = {int(b) for b in best}

    def fresh_out(self) -> tuple[str, set | None]:
        """The output directory for the next timed call, and the buckets
        that call must (re)write (None: all of them)."""
        out = os.path.join(self.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        if not self.spec["torn"]:
            return out, None
        import pyarrow.parquet as pq

        shutil.copytree(self.prior, out)
        for b in sorted(self.torn):  # a crash mid-write: half the files gone
            bdir = os.path.join(out, "data", f"bucket={b}")
            files = sorted(f for f in os.listdir(bdir) if f.endswith(".parquet"))
            for f in files[: max(1, len(files) // 2)]:
                os.remove(os.path.join(bdir, f))
        lin_dir = os.path.join(out, "lineage")
        for f in os.listdir(lin_dir):
            p = os.path.join(lin_dir, f)
            if f.endswith(".parquet"):
                t = pq.read_table(p)
                keep = [b not in self.torn for b in t.column("bucket").to_pylist()]
                pq.write_table(t.filter(keep), p)
            elif f.startswith("."):  # stale checksums of the rewritten files
                os.remove(p)
        return out, set(self.torn)

    @staticmethod
    def data_files(out: str) -> dict[int, frozenset]:
        """bucket -> the names of its data files."""
        data = os.path.join(out, "data")
        if not os.path.isdir(data):
            return {}
        return {int(d.name.split("=", 1)[1]): frozenset(os.listdir(d.path))
                for d in os.scandir(data) if d.is_dir() and d.name.startswith("bucket=")}

    def loop(self, seconds: float, traced: bool, warm: int, rss=None) -> list[dict]:
        """Closed loop of run_stage calls (each followed by its output check)
        for ``seconds``: a call starts only if it is expected to end in time,
        judged by the previous call, and there are at least 2 calls. ``warm``
        identical calls run first, untimed, so the JVM has compiled the scan,
        exchange, write and lineage paths and every Python worker holds the
        models before timing starts."""
        import oracle
        from pii_detection_service_spark.plans import stage
        from tracing import ITER_PROP

        src = self.spark.read.parquet(self.input_dir)
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        for _ in range(warm):
            out, _pending = self.fresh_out()
            stage.run_stage(self.spark, src, out, resume=True, **self.layout, **self.models)
        self.record.setdefault("warm_s", []).append(time.perf_counter() - t0)
        results = []
        t_end = time.perf_counter() + seconds
        it, last = 0, 0.0
        while it < 2 or time.perf_counter() + last < t_end:
            it += 1
            t_it = time.perf_counter()
            out, pending = self.fresh_out()
            rec = {"iteration": f"{'t' if traced else 'u'}{it}"}
            if traced:
                t0 = time.perf_counter()
                with self.tracer.span("plans.stage.completed_buckets"):
                    stage.completed_buckets(self.spark, os.path.join(out, "lineage")).collect()
                rec["done_lookup_ms"] = (time.perf_counter() - t0) * 1e3
            before = self.data_files(out)
            pools = self.heap_pools()
            for p in pools:
                p.resetPeakUsage()
            if rss is not None:
                rss.reset()
            try:
                # only run_stage's own jobs carry the tag
                sc.setLocalProperty(ITER_PROP, rec["iteration"])
                try:
                    with self.tracer.span("plans.stage.run_stage", iteration=rec["iteration"]):
                        t0 = time.perf_counter()
                        m = stage.run_stage(self.spark, src, out, resume=True, **self.layout, **self.models)
                        rec["wall_s"] = time.perf_counter() - t0
                finally:
                    sc.setLocalProperty(ITER_PROP, None)
                if rss is not None:
                    rec["peak_rss_mb"] = rss.peak() / 2**20
                rec["heap_peak_mb"] = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
                after = self.data_files(out)
                # buckets whose data files the call replaced or wrote
                rewritten = {b for b in after if after[b] != before.get(b)}
                rec["pending_frac"] = len(rewritten) / len(after)
                rec["returned"] = m
                rec.update(oracle.check_stage_output(out, self.expected, m, pending, rewritten))
                rec["ok"] = True
            except Exception:  # a failed call is counted and reported, not fatal
                rec["ok"], rec["error"] = False, traceback.format_exc()
                print(f"perfbench: {rec['iteration']} FAILED:\n{rec['error']}", file=sys.stderr)
            results.append(rec)
            last = time.perf_counter() - t_it
        return results

    # ---- single-core kernel timing (traced run) ---------------------------
    def kernels(self) -> dict:
        import numpy as np
        import pandas as pd

        from pii_detection_service_spark import udfs
        from pii_detection_service_spark.functions import quality, tagger

        lm_tbl = quality.load_arpa_char_bigram(self.arpa_path) if self.arpa_path else None
        gaz = self.models["gaz_bc"].value if "gaz_bc" in self.models else None
        caps = self.captions[: 4 * KERNEL_BATCH]
        batches = []
        with self.tracer.span("udfs.score_batch"):
            for i in range(0, len(caps), KERNEL_BATCH):
                s = pd.Series(caps[i : i + KERNEL_BATCH])
                t0 = time.perf_counter()
                udfs.score_batch(s, lm_tbl, gaz)
                batches.append(time.perf_counter() - t0)
        sample = caps[:KERNEL_BATCH]
        prev = tagger.set_gazetteer(gaz) if gaz is not None else None
        try:
            with self.tracer.span("functions.tagger.tag_and_scrub"):
                t0 = time.perf_counter()
                for c in sample:
                    tagger.tag_and_scrub(c)
                tag_s = time.perf_counter() - t0
            plain = sum(tagger._is_plain(c) for c in sample) / len(sample)
        finally:
            if prev is not None:
                tagger.set_gazetteer(prev)
        with self.tracer.span("functions.quality.lang_and_ppl"):
            t0 = time.perf_counter()
            lp = [quality.lang_and_ppl(c, lm_tbl) for c in sample]
            lp_s = time.perf_counter() - t0
        with self.tracer.span("functions.quality.keep_decision"):
            t0 = time.perf_counter()
            for c, (lang, ppl) in zip(sample, lp):
                quality.keep_decision(c, lang, ppl)
            kd_s = time.perf_counter() - t0
        ms = np.array(batches) * 1e3
        return {
            "udfs.score_batch.rows_per_s": len(caps) / sum(batches),
            "udfs.score_batch.batch_ms_p50": float(np.percentile(ms, 50)),
            "udfs.score_batch.batch_ms_p90": float(np.percentile(ms, 90)),
            "tagger.tag_and_scrub.us_per_row": tag_s / len(sample) * 1e6,
            "tagger.plain_frac": plain,
            "quality.lang_and_ppl.us_per_row": lp_s / len(sample) * 1e6,
            "quality.keep_decision.us_per_row": kd_s / len(sample) * 1e6,
        }


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_untraced(b: Bench, seconds: float) -> tuple[dict, list]:
    import procfs

    # one cold set-up: a second one in the same run would pay another JVM
    # launch (10-14 s), which the run budget does not hold
    setup_s = b.start(b.cores)
    warm = b.spec["warm"]
    if b.spec["torn"]:
        b.stage_prior()
        warm -= 1  # the prior run is a warm-up call too
    with procfs.PeakRss(b.jvm_pid()) as rss:
        its = b.loop(seconds, traced=False, warm=warm, rss=rss)
    b.stop()
    ok = [r for r in its if r["ok"]]
    walls = [r["wall_s"] for r in ok]
    metrics = {
        "img_per_s": (median([r["rows_redone"] / r["wall_s"] for r in ok]), "img/s"),
        "wall_s": (median(walls), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (median([r["peak_rss_mb"] for r in ok]), "MB"),
        "ok_frac": (len(ok) / len(its), "frac"),
    }
    return metrics, its


def run_traced(b: Bench, seconds: float) -> tuple[dict, list]:
    from pii_detection_service_spark.plans import stage
    from tracing import read_event_log, stage_layers

    # untraced reference for the tracing overhead
    b.start(b.cores)
    warm = b.spec["warm"]
    if b.spec["torn"]:
        b.stage_prior()
        warm -= 1  # the prior run is a warm-up call too
    base = b.loop(seconds / 4, traced=False, warm=warm)
    # the p-core leg of the weak-scaling figure is a fresh (non-resumed) run
    p_wall = median([r["wall_s"] for r in base if r["ok"]])
    if b.spec["torn"]:
        t0 = time.perf_counter()
        stage.run_stage(b.spark, b.spark.read.parquet(b.input_dir), os.path.join(b.work, "fresh"),
                        **b.layout, **b.models)
        p_wall = time.perf_counter() - t0
    # traced: event log on, spans around the benchmark's calls; the JVM, and
    # what its JIT compiled, is kept
    event_dir = os.path.join(b.work, "events")
    os.makedirs(event_dir, exist_ok=True)
    b.tracer.spans.clear()
    b.start(b.cores, event_dir, fresh_jvm=False)
    broadcast_s = b.tracer.total("sources.artifacts.broadcast")
    app_id = b.spark.sparkContext.applicationId
    its = b.loop(seconds / 4, traced=True, warm=1)
    kern = b.kernels()
    b.stop(end_jvm=False)
    log = read_event_log(os.path.join(event_dir, app_id))
    out_dir = os.path.join(b.work, "out")
    layers = []
    for r in its:
        if r["ok"]:
            layers.append(stage_layers(log, r["iteration"], r["wall_s"] * 1e3, out_dir))
            if layers[-1]["stage.tasks.failed"]:  # a retried task is a failure too
                r["ok"], r["error"] = False, "tasks failed"
    # weak scaling: 1/nproc of the rows on one core, in the same warmed-up JVM
    b.start(1, fresh_jvm=False)
    small = b.spark.read.parquet(b.small_dir)
    t0 = time.perf_counter()
    stage.run_stage(b.spark, small, os.path.join(b.work, "out1"), **b.layout, **b.models)
    one = time.perf_counter() - t0
    b.stop()
    b.record["scaling_local1_s"] = one

    every = base + its
    base_wall = median([r["wall_s"] for r in base if r["ok"]])
    traced_wall = median([r["wall_s"] for r in its if r["ok"]])
    values = {k: median([l[k] for l in layers]) for k in (layers[0] if layers else ())}
    values.update(kern)
    values.update({
        "stage.resume.done_lookup_ms": median([r["done_lookup_ms"] for r in its]),
        "stage.resume.pending_frac": median([r["pending_frac"] for r in its if r["ok"]]),
        "jvm.heap_peak_mb": median([r["heap_peak_mb"] for r in its if r["ok"]]),
        "artifacts.broadcast_s": broadcast_s,
        "stage.scaling_eff": one / p_wall,
        "trace.overhead_frac": traced_wall / base_wall,
    })
    return {k: (values.get(k, math.nan), u) for k, u in PER_LAYER_UNITS.items()}, every


PER_LAYER_UNITS = {
    "tagger.tag_and_scrub.us_per_row": "us", "tagger.plain_frac": "frac",
    "quality.lang_and_ppl.us_per_row": "us", "quality.keep_decision.us_per_row": "us",
    "udfs.score_batch.rows_per_s": "rows/s", "udfs.score_batch.batch_ms_p50": "ms",
    "udfs.score_batch.batch_ms_p90": "ms",
    "stage.python.bytes_sent": "B", "stage.python.bytes_returned": "B",
    "stage.python.return_ratio": "ratio", "stage.python.batches": "count",
    "stage.python.run_ms": "ms", "stage.score.task_cpu_ms": "ms",
    "stage.scan.time_ms": "ms", "stage.scan.bytes": "B",
    "stage.exchange.bytes": "B", "stage.exchange.write_ms": "ms",
    "stage.exchange.fetch_wait_ms": "ms", "stage.exchange.skew": "ratio",
    "stage.write.bytes": "B", "stage.write.files": "count",
    "stage.write.task_commit_ms": "ms", "stage.write.wall_ms": "ms",
    "stage.lineage.wall_ms": "ms", "stage.resume.done_lookup_ms": "ms",
    "stage.resume.pending_frac": "frac", "jvm.heap_peak_mb": "MB",
    "stage.tasks.gc_ms": "ms", "stage.tasks.spill_bytes": "B", "stage.tasks.failed": "count",
    "artifacts.broadcast_s": "s", "stage.scaling_eff": "frac", "trace.overhead_frac": "frac",
    **{f"stage.share.{k}": "frac"
       for k in ("scan", "score", "exchange", "write", "lineage", "lookup", "other")},
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pii_detection_service_spark", "plans", "stage.py")):
        fail(f"no pii_detection_service_spark source tree under {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    # Python workers import the package from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])

    import procfs
    from tracing import Tracer

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tracer = Tracer()
    b = Bench(args.workload, args.seed, work, tracer)
    try:
        b.prepare()
        runner = run_traced if args.trace else run_untraced
        metrics, its = runner(b, args.seconds)
    finally:
        try:
            b.stop()
        finally:
            # whatever else this process started has ended before it exits
            procfs.wait_gone([p for p in procfs.descendants(os.getpid()) if p[0] != os.getpid()])
            shutil.rmtree(work, ignore_errors=True)
    failed = sum(not r["ok"] for r in its)
    b.record.update({
        "box": box_facts(b.conf, args.seed), "trace": args.trace, "seconds": args.seconds,
        "iterations": its, "spans": tracer.spans,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(b.record, f, indent=1, default=str)
    result = {
        "correct": failed == 0 and all(math.isfinite(v) for v, _ in metrics.values()),
        "attempted": len(its),
        "failed": failed,
        # a metric no call measured (every call failed) is null
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(b.record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
