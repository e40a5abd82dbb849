#!/usr/bin/env python3
"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload extract|process|curate \\
        --seed N --seconds S --trace 0|1

Runs one workload on ``local[4]`` from a single closed-loop client
(the next iteration starts when the previous one has ended),
checks every timed iteration's output against the goldens, and prints
one JSON line last on stdout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` additionally runs every layer on its own under
spans and Spark's event log and reports the per-layer metrics instead.
All scratch files live under ``.perfbench_work/`` at the repository
root and are removed at exit; span files go to ``.perfbench_out/``.
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM = "2g"  # Spark driver heap; the package default of 8g is more than this needs
WARMUP_MIN, WARMUP_MAX = 2, 3  # JIT/codegen warm-up iterations, in setup_s
FLAT = 0.95  # warm-up ends when an iteration is no more than 5% faster
MIN_ITERS = 2  # timed iterations, even when --seconds is short
PROGRAM = ("extractthinker_spark/__init__.py", "jobs/extract_job.py", "jobs/curate_job.py")


def _declared(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json, in declaration order."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("extract", "process", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: Path) -> None:
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import CORES

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONHASHSEED"] = "0"  # same str hashing in every worker
    # no hsperfdata files in the system temp dir from the JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _start_spark(work: Path, eventlog: Path | None = None):
    """A SparkContext with the benchmark's launch settings (scratch dirs
    inside ``work``; the event log only when tracing), then the
    program's own session factory on top of it."""
    from pyspark import SparkConf, SparkContext

    from workloads import MASTER

    conf = (
        SparkConf().setMaster(MASTER).setAppName("perfbench")
        .set("spark.driver.memory", DRIVER_MEM)
        # a fixed heap: RSS then does not depend on when G1 grows it
        .set("spark.driver.extraJavaOptions",
             f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}")
        .set("spark.local.dir", str(work / "spark-local"))
        .set("spark.sql.warehouse.dir", str(work / "warehouse"))
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
    )
    if eventlog is not None:
        eventlog.mkdir(parents=True)
        conf.set("spark.eventLog.enabled", "true")
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.dir", eventlog.as_uri())
    SparkContext.getOrCreate(conf).setLogLevel("ERROR")
    from extractthinker_spark.session import get_spark

    return get_spark("perfbench", master=MASTER)


def _shutdown() -> None:
    """Stop Spark and wait for the JVM (and the workers under it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def _iterate(w, spark, rss):
    """One timed iteration plus its untimed check."""
    from checks import crashed
    from proctree import tree_cpu_s

    rss.lap()
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        result = w.run(spark)
        ok = True
    except Exception:  # noqa: BLE001 — a crash counts its docs wrong
        traceback.print_exc()
        ok = False
    wall, cpu, peak_mb = time.perf_counter() - t0, tree_cpu_s() - cpu0, rss.lap()
    verdict = crashed(w.archetypes())
    t_check = time.perf_counter()
    if ok:
        try:
            verdict = w.check(spark, result)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
    print(f"perfbench: {w.name} iteration: {wall:.3f} s, {cpu:.2f} cpu-s, "
          f"{peak_mb:.0f} MB, {verdict.ok}/{verdict.attempted} ok, "
          f"checked in {time.perf_counter() - t_check:.2f} s", file=sys.stderr)
    return wall, cpu, peak_mb, verdict


def _warm_up(w, spark) -> None:
    """Run untimed iterations until the iteration time stops falling."""
    times = []
    while len(times) < WARMUP_MAX:
        t0 = time.perf_counter()
        w.run(spark)
        times.append(time.perf_counter() - t0)
        print(f"perfbench: {w.name} warm-up: {times[-1]:.3f} s", file=sys.stderr)
        if len(times) >= WARMUP_MIN and times[-1] > FLAT * times[-2]:
            return


def _measure(w, spark, rss, seconds: float):
    """Timed iterations until ``seconds`` of them have run; per
    iteration: wall seconds, tree CPU seconds, tree peak RSS, verdict."""
    laps = []
    while len(laps) < MIN_ITERS or sum(lap[0] for lap in laps) < seconds:
        laps.append(_iterate(w, spark, rss))
    return laps


def _traced(w, spark, work: Path, seed: int, untraced_docs_per_s: float):
    """Per-layer metrics, and the traced journey's verdict, from a fresh
    SparkContext with the event log on."""
    from layers import traced_layers
    from tracing import Tracer, spark_metrics

    spark.stop()
    spark = _start_spark(work, eventlog=work / "eventlog")
    tr = Tracer(spark, run_id=f"{w.name}-seed{seed}-{os.getpid()}")
    m = traced_layers(spark, tr, w)
    with tr.span(w.journey):
        t0 = time.perf_counter()
        result = w.run(spark)
        wall = time.perf_counter() - t0
    verdict = w.check(spark, result)
    m[f"{w.journey}.wall_s"] = tr.self_s(w.journey)
    _shutdown()
    m.update(spark_metrics(str(work / "eventlog"), w.journey))
    m["trace.docs_per_s_untraced"] = untraced_docs_per_s
    m["trace.docs_per_s_traced"] = w.docs / wall
    m["trace.overhead_ratio"] = untraced_docs_per_s / (w.docs / wall)
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    tr.write(str(out / f"spans-{w.name}-seed{seed}.jsonl"))
    return m, verdict


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops the JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in PROGRAM if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    t_setup = time.perf_counter()
    _environment(work)

    from proctree import PeakRss
    from workloads import WORKLOADS

    rss = PeakRss().start()
    try:
        spark = _start_spark(work)
        w = WORKLOADS[args.workload](str(work), args.seed)
        w.build()
        _warm_up(w, spark)
        setup_s = time.perf_counter() - t_setup
        walls, cpus, peaks, verdicts = map(list, zip(*_measure(w, spark, rss, args.seconds)))
        docs_per_s = w.docs / statistics.median(walls)
        if args.trace:
            metrics, v = _traced(w, spark, work, args.seed, docs_per_s)
            verdicts.append(v)
    finally:
        try:
            _shutdown()
        finally:
            rss.stop()
            shutil.rmtree(work, ignore_errors=True)

    attempted = sum(v.attempted for v in verdicts)
    failed = sum(v.failed for v in verdicts)
    wrong = sum((v.wrong for v in verdicts), start=type(verdicts[0].wrong)())
    if wrong:
        print(f"perfbench: wrong documents by archetype: {dict(wrong)}", file=sys.stderr)
    if args.workload == "curate":
        print(f"perfbench: curate funnel (seed {args.seed}): {w.funnel}", file=sys.stderr)
    if not args.trace:
        metrics = {
            "docs_per_s": docs_per_s,
            "cpu_s_per_kdoc": statistics.median(cpus) * 1000 / w.docs,
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(peaks),
            "correct_ratio": (attempted - failed) / attempted,
        }
    declared = _declared("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(declared):
        print(f"perfbench: measured and declared metrics differ: "
              f"{sorted(set(metrics) ^ set(declared))}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": unit} for k, unit in declared.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
