#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of the engine's registry keys.

    python3 perfbench/run.py --workload ts_interactive --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. One invocation runs one workload in its own
process and JVM, on a fresh ``local[N]`` session with N = the CPUs this
process may use. One closed-loop client (the main thread) issues the next
registry key only after the previous ``collect()`` returned.

1. Inputs: a synthetic corpus drawn from ``--seed`` (``corpus.py``) and the
   DuckDB oracle digest of every key over it, both cached per seed under
   ``.perfbench_work/`` and excluded from every timing.
2. Set-up, timed as ``setup_s``: the process's one session start, which
   launches the JVM, plus the first pass over the workload's keys.
3. ``WARMUP`` more passes, in no metric, then measure: full passes over the
   workload's keys until ``--seconds`` have passed, at least three of them.
4. Check every key result of every pass, warm-up passes included, against
   its oracle digest.

With ``--trace 1`` measured passes alternate untraced and traced; the traced
ones give the per-layer metrics (``tracing.py``) and the difference between
the two medians is the tracing overhead. Spans go to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it are a readable summary.
"""
from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "industry_big_data_time_sequence_process_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")

sys.path[:0] = [HERE, ROOT]

try:
    importlib.import_module(PACKAGE)
except ImportError as e:
    sys.exit(f"perfbench: cannot import the engine ({e}); run from the "
             f"repository root")

import corpus  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402

WORKLOADS = {
    # Small relational and time-series keys on ~100k rows, where the fixed
    # per-query cost (DataFrame construction over py4j, load/configure,
    # planning, job scheduling) dominates, plus one partitioned parquet write
    # and one file-stream drain, so writes and micro-batches are measured on
    # the same read layer.
    "ts_interactive": [
        "agg_groupby_multi", "ts_resample_1h", "win_moving_avg_rows",
        "sink_parquet_partitioned", "source_stream_file",
    ],
    # Execution dominates: shuffles, mapInArrow Python workers, eager census
    # jobs and a pair-sized LSH result.
    "llm_dedup_ann": ["dedup_ngram_jaccard", "sim_lsh_bucketed"],
}
#: Untimed passes between set-up and measurement. Pass times keep falling
#: for several passes after the JVM starts (JIT compilation); measuring on
#: that slope would make ``pass_s`` depend on how many passes a run fits.
#: Larger inputs warm up in fewer passes, and on ``llm_dedup_ann`` a run
#: always measures the same three passes, as three take longer than
#: ``--seconds``.
WARMUP = {"ts_interactive": 3, "llm_dedup_ann": 1}
MIN_PASSES = 3        # measured passes of each kind (untraced, traced)
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile

#: End-to-end metrics of the result line. ``op_p50_s``, ``op_tail_s``,
#: ``peak_rss_mb`` and ``failed_frac`` are printed in the summary only: with
#: a handful of keys the pooled median is one key's latency, a run has too
#: few key latencies for a tail above the median, the JVM's peak RSS follows
#: its GC timing more than the work, and ``failed_frac`` is 0 whenever the
#: run is correct (``failed`` carries it).
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s"}


def _prepare_inputs(seed: int, keys: list[str], registry) -> tuple[str, dict]:
    """Corpus directory and key -> oracle digest for ``seed``, cached on disk.
    Both are filed under a hash of ``corpus.py`` and each digest under a hash
    of its oracle SQL, so an edited generator or oracle is run again rather
    than trusted."""
    os.makedirs(TMP, exist_ok=True)
    with open(corpus.__file__, "rb") as f:
        tag = f"{seed}-{hashlib.sha256(f.read()).hexdigest()[:8]}"
    corpus_dir = os.path.join(WORK, f"corpus-{tag}")
    if not os.path.isdir(corpus_dir):
        corpus.write_corpus(corpus_dir, seed)
    cache = os.path.join(WORK, f"oracle-{tag}.json")
    cached = {}
    if os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
    ids = {k: k + ":" + hashlib.sha256(registry[k].oracle.encode())
           .hexdigest()[:16] for k in keys}
    missing = {k: registry[k].oracle for k in keys if ids[k] not in cached}
    if missing:
        for k, d in oracle.oracle_digests(corpus_dir, missing, TMP).items():
            cached[ids[k]] = d
        with open(cache + ".tmp", "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(cache + ".tmp", cache)
    return corpus_dir, {k: cached[ids[k]] for k in keys}


def _run_pass(spark, keys, corpus_dir, registry, tracer=None, pass_no=0):
    """One closed-loop pass; per key a record with its wall time, result and
    (traced passes only) layer numbers. Results are checked afterwards, so
    checking never lands inside a timed region."""
    recs = []
    for key in keys:
        fn = registry[key].fn
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = fn(spark, corpus_dir)
                rows = df.collect()
                cols, layers = list(df.columns), None
                wall = time.perf_counter() - t0
            else:
                cols, rows, wall, layers = tracer.run_key(
                    spark, key, fn, corpus_dir, pass_no)
            recs.append({"key": key, "wall": wall, "cols": cols,
                         "rows": rows, "layers": layers})
        except Exception as e:  # a failing key is counted, the run goes on
            recs.append({"key": key, "wall": time.perf_counter() - t0,
                         "error": f"{type(e).__name__}: {e}"[:500]})
    return recs


def _check(recs, expected) -> list[str]:
    """Failures of one pass: exceptions and oracle mismatches."""
    bad = []
    for r in recs:
        if "error" in r:
            bad.append(f"{r['key']}: {r['error']}")
        elif oracle.digest(r.pop("cols"), r.pop("rows")) != expected[r["key"]]:
            bad.append(f"{r['key']}: result differs from its oracle")
    return bad


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it, never below the median: with
    2 * TAIL_BEYOND + 2 samples or fewer the tail is the median."""
    xs = sorted(samples)
    rank = max(len(xs) - TAIL_BEYOND, len(xs) // 2 + 1)
    return xs[rank - 1], 100.0 * rank / len(xs)


def _start_session(get_session, cores: int):
    spark = get_session("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it (its Python workers end
    with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _isolate_env(cores: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, let workers import the engine, and size the JVM for the run."""
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    # no hsperfdata files: the JVM writes those to /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    registry = importlib.import_module(f"{PACKAGE}.registry").REGISTRY
    keys = WORKLOADS[args.workload]
    corpus_dir, expected = _prepare_inputs(args.seed, keys, registry)
    prep_s = time.perf_counter() - t_run

    cores = len(os.sched_getaffinity(0))
    _isolate_env(cores)
    load_start = os.getloadavg()
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(PACKAGE, os.path.join(ROOT, ".scratch"), cores)
        tracer.install()
    get_session = importlib.import_module(f"{PACKAGE}.session").get_session

    rss = procstat.PeakRss().start()
    failures: list[str] = []
    spark = None
    try:
        # set-up: the process's one session start, which launches the JVM,
        # plus the first (cold) pass
        t0 = time.perf_counter()
        spark = _start_session(get_session, cores)
        session_s = time.perf_counter() - t0
        recs = _run_pass(spark, keys, corpus_dir, registry)
        setup_s = time.perf_counter() - t0
        attempted = len(recs)
        failures += _check(recs, expected)
        for _ in range(WARMUP[args.workload]):
            recs = _run_pass(spark, keys, corpus_dir, registry)
            attempted += len(recs)
            failures += _check(recs, expected)

        if tracer is not None:
            tracer.attach(spark)
        walls = {False: [], True: []}   # pass walls by traced-ness
        cpus, op_walls, layer_passes = [], [], []
        key_walls: dict[str, list[float]] = {}
        t_measure = time.perf_counter()
        n = 0
        min_passes = MIN_PASSES * (2 if tracer else 1)
        steal0 = procstat.steal_seconds()
        while n < min_passes or time.perf_counter() - t_measure < args.seconds:
            traced = tracer is not None and n % 2 == 1
            if traced:  # the file listing stays outside the pass's time
                files0, since = tracer.snapshot(), time.time()
            cpu0 = procstat.cpu_seconds()
            t0 = time.perf_counter()
            recs = _run_pass(spark, keys, corpus_dir, registry,
                             tracer if traced else None, n)
            walls[traced].append(time.perf_counter() - t0)
            if traced:
                layer_passes.append(tracer.pass_totals(
                    [r["layers"] for r in recs if r.get("layers")],
                    tracer.written(files0, since)))
            else:
                cpus.append(procstat.cpu_seconds() - cpu0)
                for r in recs:
                    op_walls.append(r["wall"])
                    key_walls.setdefault(r["key"], []).append(r["wall"])
            attempted += len(recs)
            failures += _check(recs, expected)
            n += 1
        steal = procstat.steal_seconds() - steal0
        measure_s = time.perf_counter() - t_measure
    finally:
        if spark is not None:
            spark.stop()
        _shutdown_jvm()
        peak = rss.stop()
    load_end = os.getloadavg()

    tail, tail_pct = _tail(op_walls)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(walls[False]),
        "op_p50_s": statistics.median(op_walls),
        "op_tail_s": tail,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak / 2**20,
    }
    print(f"workload {args.workload}  seed {args.seed}  nproc {cores}  "
          f"local[{cores}]  keys {len(keys)}")
    print(f"run {time.perf_counter() - t_run:.1f} s (inputs {prep_s:.1f} s)  "
          f"loadavg start {load_start[0]:.2f} {load_start[1]:.2f} "
          f"{load_start[2]:.2f}  end {load_end[0]:.2f} {load_end[1]:.2f} "
          f"{load_end[2]:.2f}  cpu steal while measuring {steal:.1f} s of "
          f"{cores * measure_s:.1f} cpu-s")
    print(f"setup {setup_s:.2f} s (session start {session_s:.2f} s)  "
          f"measured passes "
          f"{len(walls[False])} untraced, {len(walls[True])} traced: "
          f"{' '.join(f'{x:.2f}' for x in walls[False])} s")
    for name, unit in (*END_TO_END.items(), ("op_p50_s", "s"),
                       ("op_tail_s", "s"), ("peak_rss_mb", "MB")):
        print(f"  {name:<12} {e2e[name]:10.4f} {unit}")
    print(f"  op_tail_s is p{tail_pct:.1f} of {len(op_walls)} key latencies"
          + (" (the median: too few samples for a tail)"
             if len(op_walls) - TAIL_BEYOND <= len(op_walls) // 2 + 1
             else ""))
    print(f"  failed_frac  {len(failures) / attempted:10.4f} "
          f"({len(failures)} of {attempted} key runs)")
    print("  per key p50 s: " + "  ".join(
        f"{k} {statistics.median(v):.3f}" for k, v in key_walls.items()))
    for f in failures[:20]:
        print(f"  FAILED {f}")

    if tracer is None:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    else:
        from tracing import LAYER_METRICS

        layers = {k: statistics.median(p.get(k, 0.0) for p in layer_passes)
                  for k in LAYER_METRICS}
        layers["session.start_s"] = session_s
        layers["trace.overhead_s"] = (statistics.median(walls[True])
                                      - e2e["pass_s"])
        spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write_spans(spans)
        print(f"traced pass_s {statistics.median(walls[True]):.4f} s  "
              f"spans {spans}")
        for k, u in LAYER_METRICS.items():
            print(f"  {k:<22} {layers[k]:14.4f} {u}")
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in LAYER_METRICS.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
