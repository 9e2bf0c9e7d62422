#!/usr/bin/env python3
"""Closed-loop benchmark of the qalsh_spark engine.

    python3 perfbench/run.py --workload revision_chains --seed 1 --seconds 20 --trace 0

One client runs one batch job (an "op") at a time on ``local[nproc]`` until
``--seconds`` have passed; every op's output is checked against ground truth
computed during set-up.  The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before it
stamps the host, the engine revision and the raw per-op figures, so that
only same-host A/B runs get compared.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates untraced and traced ops and reports the
per-layer metrics.  See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload -> (class in workloads.py, input size: docs or vectors)
WORKLOADS = {
    "revision_chains": ("RevisionChains", 160),
    "embedding_ann": ("EmbeddingAnn", 3000),
}
SETUP_ROUNDS = 3
# The warm-up op runs the same workload on an input this many times
# smaller: a cold JVM spends most of its first op on class loading, JIT and
# codegen, which depend on the plans, not on the input size.
WARMUP_SHRINK = 8

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
    "shuffle_write_mb": "MB",
    "recall": "ratio",
}
LAYERS = ("prepare", "sign", "pairs", "verify", "cluster", "catalog",
          "ann.pstable", "ann.qalsh_plus")
LAYER_COMMON = {
    "wall_s": "s", "cpu_s": "s", "task_s": "s", "wait_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "spark_stages": "count", "rows_out": "count",
}
LAYER_EXTRAS = {
    "prepare": {"distinct_ratio": "ratio"},
    "sign": {"docs": "count"},
    "pairs": {"candidates": "count", "hot_buckets": "count",
              "pairs_elided_by_star": "count"},
    "verify": {"edges": "count", "accept_ratio": "ratio"},
    "cluster": {"spark_jobs": "count"},
    "catalog": {"bytes_written_mb": "MB", "read_s": "s", "resume_s": "s"},
    "ann.pstable": {"rounds": "count", "recall_at_10": "ratio"},
    "ann.qalsh_plus": {"n_rescored": "count", "recall_at_10": "ratio"},
}
TRACE_METRICS = {"trace.uncovered_share": "ratio", "trace.overhead_share": "ratio"}


def per_layer_units() -> dict[str, str]:
    out = {}
    for layer in LAYERS:
        for name, unit in {**LAYER_COMMON, **LAYER_EXTRAS[layer]}.items():
            out[f"{layer}.{name}"] = unit
    out.update(TRACE_METRICS)
    return out


def isolate_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["QALSH_LOCAL_DIR"] = os.path.join(
        work, "spark-local"
    )
    os.environ["QALSH_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: str):
    """The session the production job uses below 10M docs: AQE off, shuffle
    partitions fixed at max(4 x cores, 16); console progress off."""
    from qalsh_spark import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(4 * cores, 16),
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the Python driver launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def stamp(spark) -> dict:
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=30,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "qalsh_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_rev": rev,
        "src_sha256": digest.hexdigest()[:16],
    }


class Bench:
    def __init__(self, args, work: str):
        from probes import TreeSampler
        import workloads

        self.args = args
        self.work = work
        self.sampler = TreeSampler()
        name, size = WORKLOADS[args.workload]
        cls = getattr(workloads, name)
        self.wl = cls(size, os.path.join(work, "input"))
        self.warm_wl = cls(size // WARMUP_SHRINK, os.path.join(work, "warmup-input"))
        self.spark = None
        self.counters = None
        self.n_ops = 0

    def setup(self) -> list[float]:
        """SETUP_ROUNDS times: generate the inputs from the seed (their
        ground truth in the first round only), (re)start the Spark session
        and load the inputs."""
        from probes import SparkCounters

        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            for wl in (self.wl, self.warm_wl):
                wl.build(self.args.seed)
            if self.spark is not None:
                self.spark.stop()
            self.spark = start_session(self.work)
            for wl in (self.wl, self.warm_wl):
                wl.load(self.spark)
            rounds.append(time.perf_counter() - t0)
        self.counters = SparkCounters(self.spark)
        return rounds

    def op(self, traced: bool, warmup: bool = False) -> dict:
        """One checked op, then run isolation: the op's caches released (by
        the workload), no cached RDD block left, its checkpoint dir gone."""
        from probes import Tracer

        op_id = f"op{self.n_ops}"
        self.n_ops += 1
        op_dir = os.path.join(self.work, "ops", op_id)
        tracer = Tracer(self.counters, op_id) if traced else None
        self.counters.set_group(op_id)
        self.sampler.reset_peak()
        cpu0 = self.sampler.cpu_s()
        rec: dict = {"op": op_id, "traced": traced}
        try:
            wl = self.warm_wl if warmup else self.wl
            res = wl.op(self.spark, op_dir, tracer)
        except Exception:
            traceback.print_exc()
            rec.update(ok=False, detail="op raised")
            return rec
        finally:
            self.counters.set_group(None)
            rec["cpu_s"] = self.sampler.cpu_s() - cpu0
            rec["peak_pss_mb"] = self.sampler.peak_mb()
            self.counters.drain()
            rec["leaked_rdds"] = self.counters.cached_rdds()
            if rec["leaked_rdds"]:
                self.counters.drop_cached_rdds()
            shutil.rmtree(op_dir, ignore_errors=True)
        groups = tracer.groups() if tracer else [op_id]
        rec.update(
            ok=res.ok,
            detail=res.detail,
            wall_s=res.wall_s,
            items_per_s=res.items / res.wall_s,
            recall=res.quality,
            shuffle_write_mb=sum(
                self.counters.group(g)["shuffle_write_mb"] for g in groups
            ),
        )
        if tracer is not None:
            layers = tracer.layers()
            for layer, extra in res.layers.items():
                layers.setdefault(layer, {}).update(extra)
            rec["layers"] = layers
            rec["uncovered_share"] = 1.0 - tracer.covered_s() / res.wall_s
        if not res.ok:
            print(f"[perfbench] {op_id} wrong output: {res.detail}", file=sys.stderr)
        return rec

    def measure(self) -> list[dict]:
        """Closed loop for --seconds; an op is not started when less than
        half a typical op's time is left.  With --trace 1, untraced and
        traced ops alternate (at least one of each)."""
        trace = bool(self.args.trace)
        ops: list[dict] = []
        deadline = time.perf_counter() + self.args.seconds
        while True:
            ops.append(self.op(traced=trace and len(ops) % 2 == 1))
            walls = [o["wall_s"] for o in ops if "wall_s" in o]
            typical = statistics.median(walls) if walls else 0.0
            done = time.perf_counter() + 0.5 * typical >= deadline
            if done and (not trace or len(ops) >= 2):
                return ops


def _median(ops: list[dict], key: str) -> float:
    vals = [o[key] for o in ops if key in o]
    return statistics.median(vals) if vals else 0.0


def end_to_end(setup_s: float, ops: list[dict]) -> dict:
    timed = [o for o in ops if "wall_s" in o]
    values = {"setup_s": setup_s}
    for key in END_TO_END:
        if key != "setup_s":
            values[key] = _median(timed, key)
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(ops: list[dict]) -> dict:
    traced = [o for o in ops if o["traced"] and "layers" in o]
    plain = [o for o in ops if not o["traced"] and "wall_s" in o]
    out = {}
    for name, unit in per_layer_units().items():
        if name in TRACE_METRICS:
            continue
        layer, metric = name.rsplit(".", 1)
        vals = [o["layers"].get(layer, {}).get(metric, 0.0) for o in traced]
        out[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
    out["trace.uncovered_share"] = {
        "value": _median(traced, "uncovered_share"), "unit": "ratio",
    }
    overhead = 0.0
    if traced and plain:
        overhead = _median(traced, "wall_s") / _median(plain, "wall_s") - 1.0
    out["trace.overhead_share"] = {"value": overhead, "unit": "ratio"}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    isolate_environment(work)
    sys.path[:0] = [ROOT, HERE]
    bench = None
    try:
        bench = Bench(args, work)
        with bench.sampler:
            rounds = bench.setup()
            warm = bench.op(traced=False, warmup=True)  # not a timed op
            ops = bench.measure()
        host = stamp(bench.spark)
    finally:
        if bench is not None and bench.spark is not None:
            stop_session(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it

    checked = [warm] + ops
    failed = sum(1 for o in checked if not o["ok"])
    if not any("wall_s" in o for o in ops):
        print("[perfbench] no op completed", file=sys.stderr)
        return 2
    setup_s = statistics.median(rounds) + warm.get("wall_s", 0.0)
    metrics = per_layer(ops) if args.trace else end_to_end(setup_s, ops)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": WORKLOADS[args.workload][1], "host": host,
        "setup_rounds_s": rounds, "warmup": {k: v for k, v in warm.items() if k != "layers"},
        "failed_share": failed / len(checked),
        "ops": [{k: v for k, v in o.items() if k != "layers"} for o in ops],
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
