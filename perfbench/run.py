#!/usr/bin/env python3
"""The repository benchmark: warm pipeline units through the public API,
each checked against the oracle.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Runs one workload in a fresh local[nproc] Spark session with a pinned
driver heap, warms it up, then runs timed units, each checked untimed
against the oracle, until --seconds have passed (at least one). The last
line of stdout is one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1;
see perfbench/README.md). Generated inputs, oracle answers, event logs and
span files live under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")

# pinned host settings (recorded in every result): session.py's heap
# pre-size (-Xms = the driver heap), pinned here so that an inherited
# SPARK_DRIVER_JAVA_OPTS cannot change it, plus the JVM's temporary files
# kept inside the checkout (java.io.tmpdir; no /tmp/hsperfdata_<user> file)
DRIVER_MEM = "4g"
JVM_TMP_OPTS = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(CACHE, 'tmp')}"
DRIVER_JAVA_OPTS = f"-Xms{DRIVER_MEM} {JVM_TMP_OPTS}"
NPROC = len(os.sched_getaffinity(0))
# the warm-up is one unit on a 2k-line input: in a fresh JVM it pays the
# one-off code generation, class loading and Python worker start (~20-30 s).
# More warm-up passes, even on the main input, did not make the timed units
# steadier (perfbench/README.md, Warm-up). The self-test uses this input too.
WARMUP_ROWS = 2_000


@dataclass(frozen=True)
class Workload:
    rows: int
    checkpoint: bool


WORKLOADS = {
    # bench-mode Pipeline (localCheckpoint blocks, concurrent sink jobs)
    "batch": Workload(rows=30_000, checkpoint=False),
    # production Pipeline: every stage written as parquet + _lineage.json,
    # then a second Pipeline over the same work dir resumes every stage
    "checkpoint_resume": Workload(rows=20_000, checkpoint=True),
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def declared_units(spec: dict, trace: bool) -> dict[str, str]:
    """metric -> unit of the metrics a run prints, as BENCHMARK.json declares them."""
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


@dataclass
class Unit:
    kind: str  # "batch" | "checkpoint"
    wall_s: float
    start: float  # epoch seconds of the timed pass
    end: float
    bad: list[str]
    cached: int = 0  # bytes of cached RDD blocks at the end of the timed pass
    timings: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    rows: dict = field(default_factory=dict)
    ckpt: dict = field(default_factory=dict)


def configure_env() -> None:
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = DRIVER_JAVA_OPTS
    # the short-lived JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_TMP_OPTS
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {
        "master": f"local[{NPROC}]", "nproc": NPROC, "mem_total_kb": mem_kb,
        "SPARK_DRIVER_MEM": DRIVER_MEM, "SPARK_DRIVER_JAVA_OPTS": DRIVER_JAVA_OPTS,
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
    }


def start_session(event_dir: str | None):
    from radar_log_parser_spark.session import get_spark

    conf = {
        # the pipeline settings bench.py uses for its pipeline leg
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.rdd.compress": "true",
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "4m",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app="perfbench", master=f"local[{NPROC}]",
                     shuffle_partitions=2 * NPROC, extra_conf=conf)


class Runner:
    def __init__(self, spark, spans):
        self.spark = spark
        self.spans = spans
        self.tracker = spark.sparkContext.statusTracker()
        self.loaded: dict[str, tuple] = {}

    def load(self, input_dir: str):
        """(cfg, vocab, expected, config load s, vocab load s) for an input
        dir, loaded once."""
        if input_dir not in self.loaded:
            from radar_log_parser_spark.codec import Vocab
            from radar_log_parser_spark.config import load_config

            t = time.perf_counter()
            cfg = load_config(os.path.join(input_dir, "bench_config.yaml"))
            t_cfg = time.perf_counter() - t
            t = time.perf_counter()
            vocab = Vocab.load(os.path.join(input_dir, "vocab.json"))
            t_vocab = time.perf_counter() - t
            with open(os.path.join(input_dir, "expected.json")) as f:
                expected = json.load(f)
            self.loaded[input_dir] = (cfg, vocab, expected, t_cfg, t_vocab)
        return self.loaded[input_dir]

    def _counts(self, jobs_before: set) -> dict:
        jobs = [j for j in self.tracker.getJobIdsForGroup(None) if j not in jobs_before]
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    def unit(self, input_dir: str, checkpoint: bool, corrupt: bool = False) -> Unit:
        """One timed unit, then its untimed check against the oracle.

        batch: one bench-mode pass with bench.py's sink jobs. checkpoint: the
        production pass, which writes every stage itself, then a second
        Pipeline over the same work dir that resumes them."""
        from checks import pipeline_mismatches, sink_jobs
        from radar_log_parser_spark.plans.pipeline import Pipeline
        from trace import cached_block_bytes

        cfg, vocab, expected, _, _ = self.load(input_dir)
        logs = os.path.join(input_dir, "logs.parquet")
        work = os.path.join(CACHE, "work", "unit")
        shutil.rmtree(work, ignore_errors=True)
        gc.collect()
        jobs_before = set(self.tracker.getJobIdsForGroup(None))
        kind = "checkpoint" if checkpoint else "batch"
        collected: dict = {}
        passes: list[tuple] = []  # (Pipeline, its wall)
        res = None
        start = time.time()
        t0 = time.perf_counter()
        try:
            for _ in range(2 if checkpoint else 1):
                t = time.perf_counter()
                p = Pipeline(self.spark, cfg, vocab, logs, work_dir=work if checkpoint else None,
                             checkpoint=checkpoint, fmt="parquet")
                res = p.run(job_factory=None if checkpoint else sink_jobs(collected))
                passes.append((p, time.perf_counter() - t))
            wall = time.perf_counter() - t0
        except Exception:
            wall = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            res = None
        end = time.time()
        u = Unit(kind, wall, start, end, ["raised"], cached=cached_block_bytes(self.spark),
                 counts=self._counts(jobs_before))
        t_check = time.perf_counter()
        if res is not None:
            try:
                u.bad, u.rows = pipeline_mismatches(
                    res.sinks, collected.get("grouped_issues"), cfg, expected,
                    expected["victim"] if corrupt else None)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                u.bad = ["check raised"]
        # drop every block the unit left cached (bench.py unpersists the
        # parsed blocks; the slim-scope blocks would wait for the driver's
        # GC), so that each unit starts with the same storage in use
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        check_s = time.perf_counter() - t_check
        if passes:
            p, p_wall = passes[0]
            phases = p.timings.get("parse_materialize", 0.0) + p.timings.get("fanout_jobs", 0.0)
            u.timings = {**p.timings, "unaccounted": p_wall - phases}
        if len(passes) == 2:
            u.ckpt = _checkpoint_stats(work, [p for p, _ in passes], passes[1][1])
        self.spans.add(f"unit.{kind}", start, wall, input=os.path.basename(input_dir),
                       bad=u.bad, check_s=check_s, cached=u.cached, timings=u.timings,
                       counts=u.counts, checkpoint=u.ckpt)
        return u


def _checkpoint_stats(work: str, pipes: list, resume_s: float) -> dict:
    write, resume = pipes[0].metrics, pipes[1].metrics
    n_files = n_bytes = 0
    for root, _dirs, names in os.walk(work):
        for name in names:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, name))
    return {
        "stage_wall_s": sum(m.wall_s for m in write if not m.resumed),
        "resume_s": resume_s,
        "scoped_rows": next((m.rows for m in write if m.stage == "scoped"), 0),
        "resumed_stages": sum(m.resumed for m in resume),
        "files": n_files,
        "bytes": n_bytes,
    }


def kernel_probe(input_dir: str, cfg, vocab) -> dict:
    """match_batch_arrow in-process over the input's Arrow batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from radar_log_parser_spark.functions.parse_arrow import match_batch_arrow

    batches = pq.read_table(os.path.join(input_dir, "logs.parquet")).to_batches(
        max_chunksize=20_000)
    varr = pa.array(vocab.id_to_token, pa.string())
    match_batch_arrow(batches[0].slice(0, 1000), cfg, varr)  # compile the patterns
    t = time.perf_counter()
    rows = 0
    for b in batches:
        rows += match_batch_arrow(b, cfg, varr).num_rows
    dt = time.perf_counter() - t
    return {"parse_arrow.kernel_s": dt, "parse_arrow.kernel_rows_per_s": rows / dt}


OPERATOR_LEAVES = {
    "dedup_minhash_lsh": "dedup.minhash_lsh_s",
    "dedup_minhash_lsh_md5": "dedup.minhash_lsh_md5_s",
    "dedup_simhash": "dedup.simhash_s",
    "dedup_simhash_md5": "dedup.simhash_md5_s",
    "dedup_embedding_lsh": "dedup.embedding_lsh_s",
    "dedup_cluster": "dedup.cluster_s",
    "ann_topk_cosine": "similarity.ann_topk_cosine_s",
    "ann_ivf_topk": "similarity.ann_ivf_topk_s",
}
OPERATOR_FAMILIES = ("logquery", "textops", "llmprep", "media")


def operator_probe(spark, ops_dir: str, spans) -> tuple[dict, int, int]:
    """Every bench.HEADLINERS leaf once (collected, then compared with its
    DuckDB oracle): per-leaf walls for the dedup/similarity leaves and a
    total per remaining operator module."""
    import __spark_entry__ as entry
    from bench import HEADLINERS
    from checks import duckdb_views, operator_matches

    queries = entry.queries()
    sqls = entry.oracle_sql()
    con = duckdb_views(ops_dir)
    metrics = {m: 0.0 for m in OPERATOR_LEAVES.values()}
    metrics.update({f"{fam}.total_s": 0.0 for fam in OPERATOR_FAMILIES})
    failed = 0
    for name in HEADLINERS:
        start = time.time()
        t = time.perf_counter()
        try:
            df = queries[name](spark, ops_dir)
            rows = df.collect()
            dt = time.perf_counter() - t
            ok = operator_matches(con, sqls.get(name), df.columns, rows)
        except Exception:
            dt = time.perf_counter() - t
            traceback.print_exc(file=sys.stderr)
            ok = False
        failed += not ok
        spans.add(f"leaf.{name}", start, dt, ok=ok)
        family = queries[name].__module__.rsplit(".", 1)[-1]
        if name in OPERATOR_LEAVES:
            metrics[OPERATOR_LEAVES[name]] = dt
        elif f"{family}.total_s" in metrics:
            metrics[f"{family}.total_s"] += dt
    con.close()
    return metrics, len(HEADLINERS), failed


def layer_metrics(batch: Unit, ckpt: Unit, folded: dict, input_rows: int) -> dict:
    t = batch.timings
    f = folded["batch"]
    window_ms = (batch.end - batch.start) * 1000
    m = {
        "parse.stage_s": f["parse_stage_ms"] / 1000,
        "parse.py_worker_s": f["py_worker_ms"] / 1000,
        "parse.bytes_to_py": f["bytes_to_py"],
        "parse.bytes_from_py": f["bytes_from_py"],
        "pipeline.jobs": batch.counts["jobs"],
        "pipeline.stages": batch.counts["stages"],
        "pipeline.tasks": batch.counts["tasks"],
        "pipeline.parse_materialize_s": t.get("parse_materialize", 0.0),
        "pipeline.fanout_s": t.get("fanout_jobs", 0.0),
        "pipeline.unaccounted_s": t.get("unaccounted", 0.0),
        "pipeline.plan_build_s": t.get("plan_build", 0.0),
        "pipeline.slim_materialize_s": t.get("slim_materialize", 0.0),
        "pipeline.busy_frac": f["task_ms"] / (window_ms * NPROC),
        "pipeline.cpu_s": f["cpu_ns"] / 1e9,
        "pipeline.gc_s": f["gc_ms"] / 1000,
        "pipeline.shuffle_write_bytes": f["shuffle_write_bytes"],
        "pipeline.spill_bytes": f["spill_bytes"],
        "routing.kept_s": t.get("kept", 0.0),
        "aggregates.summary_s": t.get("job_summary", 0.0),
        "aggregates.grouped_issues_s": t.get("job_grouped_issues", 0.0),
    }
    for sink in ("specific_issues", "other_routed", "grouped_routed", "events", "severity"):
        m[f"routing.{sink}_s"] = t.get(f"job_{sink}", 0.0)
        m[f"routing.{sink}_rows"] = batch.rows.get(sink, 0)
    c = ckpt.ckpt
    m.update({
        "routing.scoped_rows": c.get("scoped_rows", 0),
        "routing.hit_ratio": c.get("scoped_rows", 0) / input_rows,
        "checkpoint.write_s": c.get("stage_wall_s", 0.0),
        "checkpoint.resume_s": c.get("resume_s", 0.0),
        "checkpoint.bytes": c.get("bytes", 0),
        "checkpoint.files": c.get("files", 0),
        "checkpoint.resumed_stages": c.get("resumed_stages", 0),
    })
    return m


def run(args) -> dict:
    from inputs import operator_input, pipeline_input
    from trace import Spans, WorkerRssSampler, fold_eventlog, stop_session

    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    main_dir = pipeline_input(CACHE, wl.rows, args.seed)
    warm_dir = pipeline_input(CACHE, WARMUP_ROWS, args.seed)
    ops_dir = operator_input(CACHE, args.seed) if trace else None
    run_id = f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}"
    event_dir = os.path.join(CACHE, "eventlog", run_id) if trace else None
    spans = Spans()

    t_setup = time.perf_counter()
    start = time.time()
    spark = start_session(event_dir)
    session_s = time.perf_counter() - t_setup
    spans.add("session.start", start, session_s)
    from pyspark import SparkContext

    sampler = WorkerRssSampler(SparkContext._gateway.proc.pid)
    runner = Runner(spark, spans)
    units: list[Unit] = []
    timed: list[Unit] = []
    ops_attempted = ops_failed = 0
    layer: dict = {}
    try:
        _, _, expected, t_cfg, t_vocab = runner.load(main_dir)
        start = time.time()
        t_warm = time.perf_counter()
        units.append(runner.unit(warm_dir, wl.checkpoint))
        warm_s = time.perf_counter() - t_warm
        spans.add("session.warmup", start, warm_s)
        setup_s = time.perf_counter() - t_setup

        sampler.start()
        t_measure = time.perf_counter()
        # units (each with its check) until --seconds have passed, at least
        # one: a run's figures move with the JVM's state, not with the count
        # of units a run takes (perfbench/README.md, Warm-up)
        while not timed or time.perf_counter() - t_measure < args.seconds:
            timed.append(runner.unit(main_dir, wl.checkpoint))
        units += timed
        # the median pass's cached blocks plus the workers' peak RSS
        mem_parts = {"cached_blocks": statistics.median(u.cached for u in timed) / 2**20,
                     "python_workers": sampler.stop() / 2**20}

        if trace:
            # the per-layer metrics of the other pipeline mode come from one
            # more unit on the same input
            probe = runner.unit(main_dir, not wl.checkpoint)
            units.append(probe)
            cfg, vocab = runner.loaded[main_dir][:2]
            layer.update(kernel_probe(main_dir, cfg, vocab))
            ops, ops_attempted, ops_failed = operator_probe(spark, ops_dir, spans)
            layer.update(ops)
    finally:
        if sampler.is_alive():
            sampler.stop()
        stop_session(spark)

    e2e = statistics.median(u.wall_s for u in timed)
    metrics = {
        "e2e_s": e2e,
        "rows_per_s": expected["input_rows"] / e2e,
        "setup_s": setup_s,
        "mem_peak_mb": sum(mem_parts.values()),
    }
    if trace:
        batch_u = next(u for u in reversed(units) if u.kind == "batch")
        ckpt_u = next(u for u in reversed(units) if u.kind == "checkpoint")
        logs = [os.path.join(event_dir, n) for n in os.listdir(event_dir)]
        folded = fold_eventlog(logs[0], {"batch": (batch_u.start, batch_u.end)})
        layer.update(layer_metrics(batch_u, ckpt_u, folded, expected["input_rows"]))
        layer.update({
            "session.start_s": session_s,
            "session.warmup_s": warm_s,
            "config.load_s": t_cfg,
            "codec.vocab_load_s": t_vocab,
            "trace.e2e_s": e2e,
        })
    attempted = len(units) + ops_attempted
    failed = sum(bool(u.bad) for u in units) + ops_failed
    detail = {
        "host": host_record(),
        "workload": args.workload, "seed": args.seed, "trace": int(trace),
        "input_rows": expected["input_rows"],
        "timed_walls_s": [u.wall_s for u in timed],
        "e2e_max_s": max(u.wall_s for u in timed),
        "mem_parts_mb": mem_parts,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "mismatches": [u.bad for u in units if u.bad],
        "metrics": layer if trace else metrics,
    }
    spans.write(os.path.join(CACHE, "trace", run_id + ".json"), detail)
    return detail


def self_test() -> int:
    """One clean unit must pass the check; the same unit with one corrupted
    specific_issues row must count as failed."""
    from inputs import pipeline_input
    from trace import Spans, stop_session

    d = pipeline_input(CACHE, WARMUP_ROWS, 1)
    spark = start_session(None)
    try:
        runner = Runner(spark, Spans())
        clean = runner.unit(d, checkpoint=False)
        broken = runner.unit(d, checkpoint=False, corrupt=True)
    finally:
        stop_session(spark)
    ok = not clean.bad and broken.bad == ["specific_issues"]
    print(f"self-test clean={clean.bad} corrupted={broken.bad}: {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    try:
        configure_env()
        if args.self_test:
            return self_test()
        if args.workload is None:
            ap.error("--workload is required")
        detail = run(args)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    metrics = detail["metrics"]
    units = declared_units(spec, bool(args.trace))
    if metrics.keys() != units.keys():
        print(f"metrics differ from BENCHMARK.json: measured but not declared "
              f"{sorted(metrics.keys() - units.keys())}, declared but not measured "
              f"{sorted(units.keys() - metrics.keys())}", file=sys.stderr)
        return 1
    print(json.dumps({k: v for k, v in detail.items() if k != "metrics"}))
    for name, value in metrics.items():
        print(f"{name:34s} {value:16.6f} {units[name]}")
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
