#!/usr/bin/env python3
"""Benchmark of the openaip_yaixm_to_geojson_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <join_tiles|corpus_dedup|all>
                             --seed N --seconds S --trace <0|1> [--size full|tiny]

One workload runs in this process, in its own Spark session at
local[<cpus>] with shuffle.partitions = <cpus>. `--workload all` runs each
workload in its own child process and prints every workload's metrics.

A run: launch the JVM; set up SETUP_REPS times (fresh SparkContext, seeded
datagen, input write) and report the median; one cold pass in the last
fresh context; the warm-up: one pass that writes its stages through
plans.checkpoint, then the workload's `warmup_passes` untimed passes;
warm passes until --seconds have passed since the warm-up (at least
MIN_WARM); resumes of the warm-up's checkpoint; output checks on every
pass. With --trace 1 the warm passes alternate untraced and traced, and
the per-layer metrics come from the traced ones (spans + Spark's own SQL
and stage metrics). perfbench/README.md describes the workloads and
metrics.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
A human-readable report goes to stderr. Exit code 0 only if every pass
was correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "openaip_yaixm_to_geojson_spark"
WORKLOAD_NAMES = ("join_tiles", "corpus_dedup")
SETUP_REPS = 3
RESUME_REPS = 7
MIN_WARM = 5  # untraced warm passes, after the warm-up passes

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "rows_per_s": "rows/s",
    "resume_s": "s",
    "peak_rss_mb": "MB",
}

# (name, unit, end-to-end metric it should move, workload it moves it on)
PER_LAYER = [
    ("sources.pages.scan_rows", "count", "warm_s", "join_tiles"),
    ("sources.pages.scan_s", "s", "warm_s", "join_tiles"),
    ("sources.yaixm.airspace_rows", "count", "none (direct call in the traced run)", "join_tiles"),
    ("sources.yaixm.parse_s", "s", "none (direct call in the traced run)", "join_tiles"),
    ("operators.convert.features", "count", "none (direct call in the traced run)", "join_tiles"),
    ("operators.convert.error_rows", "count", "none (direct call in the traced run)", "join_tiles"),
    ("operators.convert.convert_s", "s", "none (direct call in the traced run)", "join_tiles"),
    ("operators.convert.geometry_udf_s", "s", "none (direct call in the traced run)", "join_tiles"),
    ("functions.cellgrid.cover_cells", "count", "warm_s", "join_tiles"),
    ("functions.cellgrid.cover_build_s", "s", "warm_s", "join_tiles"),
    ("operators.spatial.candidate_rows", "count", "warm_s", "join_tiles"),
    ("operators.spatial.pip_in_rows", "count", "warm_s", "join_tiles"),
    ("operators.spatial.pip_out_rows", "count", "warm_s", "join_tiles"),
    ("operators.spatial.pip_useful_ratio", "ratio", "warm_s", "join_tiles"),
    ("operators.spatial.broadcast_bytes", "B", "warm_s", "join_tiles"),
    ("operators.spatial.python_run_s", "s", "warm_s", "join_tiles"),
    ("functions.geodesy.pip_kernel_s", "s", "warm_s", "join_tiles"),
    ("functions.geodesy.kernel_rows", "count", "warm_s", "join_tiles"),
    ("operators.tiles.agg_build_s", "s", "warm_s", "join_tiles"),
    ("operators.tiles.shuffle_bytes", "B", "warm_s", "join_tiles"),
    ("operators.tiles.rollup_rows", "count", "warm_s", "join_tiles"),
    ("operators.knn.rounds", "count", "none (direct call in the traced run)", "join_tiles"),
    ("operators.knn.candidate_rows", "count", "none (direct call in the traced run)", "join_tiles"),
    ("operators.knn.fallback_rows", "count", "none (direct call in the traced run)", "join_tiles"),
    ("operators.knn.expansion_s", "s", "none (direct call in the traced run)", "join_tiles"),
    ("plans.checkpoint.bytes_written", "B", "resume_s", "join_tiles,corpus_dedup"),
    ("plans.checkpoint.write_amplification", "ratio", "resume_s", "join_tiles,corpus_dedup"),
    ("plans.checkpoint.resume_verify_s", "s", "resume_s", "join_tiles,corpus_dedup"),
    ("operators.text.analyze_s", "s", "none (direct call in the traced run)", "corpus_dedup"),
    ("operators.terms.span_stats_s", "s", "none (direct call in the traced run)", "corpus_dedup"),
    ("operators.dedup.minhash_s", "s", "warm_s", "corpus_dedup"),
    ("operators.dedup.containment_s", "s", "warm_s", "corpus_dedup"),
    ("operators.dedup.lsh_qa_s", "s", "none (direct call in the traced run)", "corpus_dedup"),
    ("operators.dedup.candidate_pairs", "count", "warm_s", "corpus_dedup"),
    ("operators.dedup.verified_pairs", "count", "warm_s", "corpus_dedup"),
    ("operators.dedup.verify_useful_ratio", "ratio", "warm_s", "corpus_dedup"),
    ("operators.dedup.shuffle_bytes", "B", "warm_s", "corpus_dedup"),
    ("spark.jvm_start_s", "s", "none (outside setup_s)", "all"),
    ("spark.python_init_s", "s", "cold_s", "all"),
    ("spark.cached_bytes", "B", "peak_rss_mb,cold_s", "corpus_dedup"),
    ("spark.cached_blocks", "count", "peak_rss_mb,cold_s", "corpus_dedup"),
    ("spark.shuffle_bytes", "B", "warm_s", "all"),
    ("spark.spill_bytes", "B", "warm_s", "all"),
    ("spark.task_s", "s", "warm_s", "all"),
    ("spark.gc_s", "s", "warm_s", "all"),
    ("trace.warm_s_traced", "s", "none (tracing overhead)", "all"),
    ("trace.overhead_ratio", "ratio", "none (tracing overhead)", "all"),
]


def _checkpoint_stage_layers():
    from workloads import ALL_STAGES

    return [
        (f"plans.checkpoint.stage_s.{s}", "s", "none (stage written once per run)", "join_tiles,corpus_dedup")
        for s in ALL_STAGES
    ]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# one workload in this process
# ---------------------------------------------------------------------------


class Bench:
    """Owns the Spark session, the scratch directory and the RSS sampler of
    one workload run; `close()` stops and removes all of them."""

    def __init__(self, workload: str, work: Path, trace: bool):
        self.workload = workload
        self.work = work
        self.trace = trace
        self.spark = None
        self.sampler = None
        self.jvm = None

    def session(self):
        """A new SparkContext (the first call also launches the JVM); stop
        the previous one with `stop()` first."""
        from openaip_yaixm_to_geojson_spark.plans.session import build_session

        n = cpus()
        # build_session's own settings (memory included) stand; only the
        # progress bar and the warehouse dir are set here, and a traced run
        # keeps every job, stage and execution in the status store
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.trace:
            conf.update(
                {
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                }
            )
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm is None:
            self.jvm = self.spark.sparkContext._gateway.proc
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, end the JVM and every process under it, and
        remove the scratch directory, whatever fails on the way."""
        try:
            if self.sampler is not None:
                self.sampler.stop()
            try:
                self.stop()
            finally:
                if self.jvm is not None:
                    self._end_jvm()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def _end_jvm(self) -> None:
        from pyspark import SparkContext

        from tracing import alive, descendants

        leftovers = descendants(self.jvm.pid)
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
        # the JVM exits when its stdin closes; its Python workers follow
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait(timeout=30)
        deadline = time.time() + 30
        while time.time() < deadline:
            running = [pid for pid in leftovers if alive(pid)]
            if not running:
                break
            for pid in running:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str, bench: Bench) -> dict:
    from tracing import (
        RssSampler,
        Tracer,
        cached_storage,
        executions_since,
        last_execution_id,
        stage_totals,
        stopwatch,
        tree_cpu_s,
    )
    from workloads import WORKLOADS

    wl = WORKLOADS[name](size)
    started = time.perf_counter()
    log = lambda msg: print(  # noqa: E731
        f"[{name} seed={seed} +{time.perf_counter() - started:.1f}s] {msg}", file=sys.stderr, flush=True
    )

    t = time.perf_counter()
    spark = bench.session()
    jvm_start_s = time.perf_counter() - t
    bench.sampler = RssSampler()
    bench.sampler.start(bench.jvm.pid)

    setup_times, session_times, inputs, prev = [], [], None, None
    for rep in range(SETUP_REPS):
        d = bench.work / f"input-{rep}"
        bench.stop()
        with stopwatch() as clock:
            t = time.perf_counter()
            spark = bench.session()
            session_times.append(time.perf_counter() - t)
            inputs = wl.setup(spark, seed, d)
        setup_times.append(clock["seconds"])
        if prev is not None:
            shutil.rmtree(prev, ignore_errors=True)
        prev = d
    log(
        f"setup {['%.3f' % s for s in setup_times]} s (new context {['%.3f' % s for s in session_times]} s),"
        f" {inputs['rows']} input rows"
    )
    ref = wl.reference(inputs)

    tracer = Tracer(run_id=f"{name}-{seed}-{os.getpid()}", enabled=False)
    passes: list[dict] = []
    attempted = failed = 0

    def one(index: int, kind: str, traced: bool, ckpt: str | None = None):
        nonlocal attempted, failed
        tracer.enabled = traced
        before = last_execution_id(spark) if traced else None
        bench.sampler.begin()
        since = time.time()
        attempted += 1
        record = {"index": index, "kind": kind, "traced": traced, "ok": False}
        passes.append(record)
        cpu0 = tree_cpu_s(bench.jvm.pid) + sum(os.times()[:2])
        try:
            with tracer.span(f"pass.{index}"), stopwatch() as clock:
                out = wl.run_pass(spark, inputs, tracer, ckpt)
        except Exception:
            failed += 1
            log(f"pass {index} raised:\n{traceback.format_exc()}")
            return
        record.update(clock)
        record["cpu_s"] = tree_cpu_s(bench.jvm.pid) + sum(os.times()[:2]) - cpu0
        record["peak_rss_mb"] = bench.sampler.peak / 2**20
        errors = wl.check(out, ref)
        if errors:
            failed += 1
            log(f"pass {index} check failed: {errors[:5]}")
        else:
            record["ok"] = True
        if traced:
            span = next(s for s in tracer.spans if s.name == f"pass.{index}")
            execs = executions_since(spark, before)
            record["layers"] = wl.layers(tracer, execs, span, out)
            record["layers"].update({f"spark.{k}": v for k, v in stage_totals(spark, since).items()})
            record["python_init_s"] = sum(
                n.metrics.get("time to start Python workers", 0.0)
                + n.metrics.get("time to initialize Python workers", 0.0)
                for e in execs
                for n in e.nodes.values()
            )
        cached = cached_storage(spark)
        record["cached_bytes"], record["cached_blocks"] = cached
        log(
            f"pass {index} {kind}{' traced' if traced else ''}: {record['seconds']:.4f} s"
            f" (wall {record['wall_s']:.4f} s, cpu {record['cpu_s']:.2f} s) steal_ratio={record['steal_ratio']}"
            f" peak_rss={record['peak_rss_mb']:.0f} MB"
            f" cached={cached[0] / 2**20:.1f} MiB"
        )

    one(0, "cold", trace)
    # the warm-up pass writes its stages through plans.checkpoint; the
    # resume samples read that checkpoint back
    ckpt = str(bench.work / "resume_ckpt")
    one(1, "warmup", False, ckpt)
    index = 2
    # the first warm passes are still getting markedly faster (their CPU
    # time keeps falling): time none of them
    while index < 2 + wl.warmup_passes and not failed:
        one(index, "warmup", False)
        index += 1
    warm_start = time.perf_counter()

    def untraced_warm():
        return [p for p in passes if p["kind"] == "warm" and not p["traced"] and p["ok"]]

    # stop once --seconds have passed and MIN_WARM good samples are in, or
    # at the first failure: a failing commit is not timed
    while not failed:
        for traced in ((False, True) if trace else (False,)):
            one(index, "warm", traced)
            index += 1
        if time.perf_counter() - warm_start >= seconds and len(untraced_warm()) >= MIN_WARM:
            break

    attempted += 1
    try:
        resume, errors = wl.resume_samples(spark, ckpt, ref, RESUME_REPS)
    except Exception:
        resume, errors = [], [traceback.format_exc()]
    if errors:
        failed += 1
        log(f"resume check failed: {errors[:3]}")

    cold = [p for p in passes if p["kind"] == "cold" and p["ok"]]
    warm = untraced_warm()
    warm_s = median([p["seconds"] for p in warm])
    metrics = {
        "setup_s": median(setup_times),
        "cold_s": cold[0]["seconds"] if cold else float("nan"),
        "warm_s": warm_s,
        "rows_per_s": inputs["rows"] / warm_s,
        "resume_s": median(resume),
        # the cold pass is a fixed amount of work from a fresh context; the
        # heap keeps growing over the warm passes, by how much depends on
        # GC timing and on how many passes fit in --seconds
        "peak_rss_mb": cold[0]["peak_rss_mb"] if cold else float("nan"),
    }
    log(
        "warm samples: "
        + ", ".join(f"{p['seconds']:.3f}s (wall {p['wall_s']:.3f}s, steal {p['steal_ratio']})" for p in warm)
    )
    log(f"resume samples: {['%.3f' % t for t in resume]} s")

    if not trace:
        return finish({k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, attempted, failed, log)

    traced = [p for p in passes if p["traced"] and p["kind"] == "warm" and "layers" in p]
    layer_values: dict[str, float] = {}
    for key in sorted({k for p in traced for k in p["layers"]}):
        layer_values[key] = median([p["layers"][key] for p in traced if key in p["layers"]])
    attempted += 1
    try:
        layer_values.update(wl.static_layers(spark, inputs))
    except Exception:
        failed += 1
        log(f"direct layer calls failed:\n{traceback.format_exc()}")
    layer_values["spark.jvm_start_s"] = jvm_start_s
    layer_values["spark.python_init_s"] = cold[0].get("python_init_s", 0.0) if cold else 0.0
    measured = [p for p in passes if "cached_bytes" in p]
    if measured:
        layer_values["spark.cached_bytes"] = measured[-1]["cached_bytes"]
        layer_values["spark.cached_blocks"] = float(measured[-1]["cached_blocks"])
    traced_s = median([p["seconds"] for p in traced])
    layer_values["trace.warm_s_traced"] = traced_s
    layer_values["trace.overhead_ratio"] = traced_s / warm_s - 1.0
    units = {n: u for n, u, _, _ in PER_LAYER + _checkpoint_stage_layers()}
    tags = {n: (m, w) for n, _, m, w in PER_LAYER + _checkpoint_stage_layers()}
    layer_metrics = {n: {"value": float(layer_values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    for n, v in layer_metrics.items():
        moves, on = tags[n]
        log(f"layer {n} = {v['value']:.6g} {v['unit']}  (moves {moves} on {on})")
    for k, v in metrics.items():
        log(f"end-to-end (this traced run) {k} = {v:.6g} {END_TO_END[k]}")
    spans_dir = ROOT / ".perfbench_work" / "spans"
    spans_dir.mkdir(parents=True, exist_ok=True)
    (spans_dir / f"{name}-seed{seed}.json").write_text(json.dumps(tracer.to_records()))
    return finish(layer_metrics, attempted, failed, log)


def finish(metrics: dict, attempted: int, failed: int, log) -> dict:
    """The result line. A metric a failing run could not measure (NaN) is
    left out, so the line stays valid JSON."""
    log(f"fail_ratio {failed}/{attempted} = {failed / attempted:.4f} ratio")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: v for k, v in metrics.items() if math.isfinite(v["value"])},
    }


# ---------------------------------------------------------------------------
# all workloads, one child process each
# ---------------------------------------------------------------------------


def run_all(args) -> int:
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable,
            str(Path(__file__).resolve()),
            "--workload", name,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--size", args.size,
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if not lines:
            print(f"{name}: no result (exit {proc.returncode})", file=sys.stderr)
            return 2
        results[name] = json.loads(lines[-1])
    for name, res in results.items():
        for metric, v in res["metrics"].items():
            print(f"{name:18s} {metric:44s} {v['value']:16.6f} {v['unit']}")
        print(f"{name:18s} {'fail_ratio':44s} {res['failed'] / res['attempted']:16.6f} ratio")
    combined = {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{m}": v for n, r in results.items() for m, v in r["metrics"].items()},
    }
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"{ROOT / PACKAGE} not found: run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    sys.path[:0] = [str(ROOT), str(HERE)]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    # children of the JVM (Python workers) import the package from ROOT;
    # Spark's shuffle and spill files go under the scratch dir
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = Bench(args.workload, work, bool(args.trace))
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.size, bench)
    finally:
        bench.close()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
