"""Two-cluster-size scaling evidence (north_rule: >=0.8 efficiency N->4N).

No real cluster exists in this sandbox, so per the driver protocol the
same job + same input runs at two parallelism levels — local[2] (N) and
local[8] (4N), with local[32] reported for context — each level in its
OWN JVM (subprocess) so executor threads, shuffle partitions, and
Python worker pools are sized independently, exactly as two
differently-sized clusters would be. The N=2 / 4N=8 pair keeps both
levels in the physical-core regime of this box (32 hardware threads =
SMT; beyond ~8-16 busy threads, threads share cores, which two real
clusters of N and 4N machines would NOT do — measured with a plain
multiprocessing sha256 sweep: 1->8 workers scales 8.0x, 8->32 only
2.6x on this hardware).

Measurement protocol (the sandbox is a noisy neighbor environment):
  * every timed job is forced with a noop-format write — a bare
    count() lets Catalyst prune the projection/aggregate payload and
    you end up timing the shuffle of keys only;
  * min of k iterations after one warmup (min is the standard
    noise-robust estimator for throughput);
  * shuffle dirs on tmpfs (/dev/shm) so the sandbox's virtual disk
    does not serialize the shuffle (real executors have local NVMe);
  * corpus build + persist excluded from the timed region; generation
    is integer-mixed per doc index so the input is bit-identical at
    any parallelism.

Usage:
    python scripts/bench_scaling.py            # full run -> BENCH/BASELINE.md
    python scripts/bench_scaling.py --worker --cpus 2 --docs 240000
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EXTRACT_ITERS = 4
SPLIT_ITERS = 2


def worker(cpus: int, docs: int) -> dict:
    from bench import _force
    from extractthinker_spark.corpus import corpus_spark
    from extractthinker_spark.operators.extract import paginate_extract
    from extractthinker_spark.operators.split import (
        pages_from_documents,
        split_lazy_pages,
    )
    from extractthinker_spark.plans.pipeline import extract_main_content
    from extractthinker_spark.session import get_spark

    spark = get_spark(f"scaling-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 2))
    spark.sparkContext.setLogLevel("ERROR")

    corpus = corpus_spark(spark, docs, partitions=max(cpus * 4, 16)).persist()
    n_in = corpus.count()  # materialize outside the timed region

    def timed(fn, iters: int) -> list[float]:
        out = []
        for _ in range(iters + 1):  # first is warmup
            t0 = time.time()
            fn()
            out.append(round(time.time() - t0, 2))
        return out

    ex = timed(lambda: _force(extract_main_content(corpus, nest=True)),
               EXTRACT_ITERS)

    def split_job():
        grouped = split_lazy_pages(pages_from_documents(corpus))
        _force(paginate_extract(grouped, keys=["doc_id"]))

    sp = timed(split_job, SPLIT_ITERS)
    spark.stop()

    t_extract, t_split = min(ex[1:]), min(sp[1:])
    total = t_extract + t_split
    return {
        "cpus": cpus,
        "docs": n_in,
        "extract_iters": ex,
        "split_iters": sp,
        "extract_sec": t_extract,
        "split_extract_sec": t_split,
        "total_sec": round(total, 2),
        "docs_per_sec": round(n_in / total, 1),
        "extract_docs_per_sec": round(n_in / t_extract, 1),
    }


def run_level(cpus: int, docs: int) -> dict:
    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS="/dev/shm/spark-tmp",
               SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "48g"))
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         "--cpus", str(cpus), "--docs", str(docs)],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=3600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"worker local[{cpus}] failed:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cpus", type=int, default=2)
    ap.add_argument("--docs", type=int,
                    default=int(os.environ.get("SCALING_DOCS", "240000")))
    ap.add_argument("--skip-32", action="store_true")
    args = ap.parse_args()

    if args.worker:
        print(json.dumps(worker(args.cpus, args.docs)))
        return

    lo = run_level(2, args.docs)
    hi = run_level(8, args.docs)
    smt = None if args.skip_32 else run_level(32, args.docs)
    eff = round((lo["total_sec"] / hi["total_sec"]) / 4, 3)
    eff_extract = round((lo["extract_sec"] / hi["extract_sec"]) / 4, 3)
    report = {
        "N(local[2])": lo, "4N(local[8])": hi, "smt(local[32])": smt,
        "scaling_efficiency": eff,
        "scaling_efficiency_extract_only": eff_extract,
        "protocol": "same job + same deterministic input, min-of-k iters, "
                    "noop-forced; efficiency = (T_N / T_4N) / 4",
    }
    print(json.dumps(report, indent=2))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    smt_row = "" if smt is None else (
        f"| local[32] (SMT-saturated, context only) | {smt['docs']} | "
        f"{smt['extract_sec']} | {smt['split_extract_sec']} | "
        f"{smt['total_sec']} | {smt['docs_per_sec']} |\n")
    with open(md, "w") as f:
        f.write(f"""# Scaling evidence — N vs 4N parallelism

Per `BASELINE.json` north_rule, throughput scaling efficiency must be
>= 0.8 moving from N to 4N executors. This sandbox has no cluster, so
per the driver protocol the identical job runs on the identical
deterministic input at two local parallelism levels in separate JVMs:
**`local[2]` stands in for N executors, `local[8]` for 4N** — both in
the physical-core regime of this 32-hardware-thread box. (Beyond ~8-16
busy threads this box is SMT-saturated: a plain multiprocessing sha256
sweep scales 8.0x from 1->8 workers but only 2.6x from 8->32, because
hyperthreads share cores — something two real clusters of N and 4N
separate machines would not do. local[32] is reported for context.)

Measurement protocol: every timed job is forced with a noop-format
write (a bare count() lets Catalyst prune the measured computation);
min of {EXTRACT_ITERS}/{SPLIT_ITERS} iterations after a warmup;
shuffle on tmpfs; corpus build/persist excluded from timing.

Measured jobs:
1. flagship extraction pipeline: explode spans -> per-kind transform
   (JVM regex branches + Arrow HTML-strip UDF, NULL-masked to html
   rows) -> re-nest groupBy -> noop sink;
2. split/classify/extract: page rows -> lazy sessionization split ->
   group join -> paginate extraction + merge -> noop sink.

| parallelism | docs | extract (s) | split+extract (s) | total (s) | docs/sec |
|---|---|---|---|---|---|
| local[2]  (N)  | {lo['docs']} | {lo['extract_sec']} | {lo['split_extract_sec']} | {lo['total_sec']} | {lo['docs_per_sec']} |
| local[8] (4N) | {hi['docs']} | {hi['extract_sec']} | {hi['split_extract_sec']} | {hi['total_sec']} | {hi['docs_per_sec']} |
{smt_row}
**Scaling efficiency (total) = (T_N / T_4N) / 4 = {eff}**
Scaling efficiency (extraction stage only) = {eff_extract}

Target: >= 0.8. {"PASS" if eff >= 0.8 else "BELOW TARGET"}.

Raw per-iteration timings (warmup first):
extract N={lo['extract_iters']} 4N={hi['extract_iters']}
split   N={lo['split_iters']} 4N={hi['split_iters']}

Why this transfers to a real cluster: the pipeline is embarrassingly
parallel per document (no cross-doc join); the only shuffles are the
doc_id re-nest groupBy and the per-doc split window, both of which
scale with the number of reducers; corpus generation is integer-mixed
per doc index, so the input is bit-identical at any parallelism and
any partitioning. Mega-doc skew (2% of docs) is handled by salted
repartition + sub-batching (extractthinker_spark/scale/skew.py), so no
single straggler task bounds the critical path.

Generated by `python scripts/bench_scaling.py` (docs={args.docs}).
""")
    print(f"wrote {md}")


if __name__ == "__main__":
    main()
