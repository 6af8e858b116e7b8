"""Layered benchmark of the engine: one command, two workloads.

    python3 perfbench/run.py --workload price_queries --seed 1 --seconds 13 --trace 0

It works from the repository root whatever the caller's directory,
because Spark's Python workers import the package from the working
directory. Workloads, each one closed-loop client on ``local[<cores - 1>]``
(the next op starts when the previous one has completed):

- ``price_queries``: the analyst's relational mix over the generated
  mandi-price star schema; execution-bound. A round runs each query
  once, in a seeded order.
- ``curation_ops``: a refresh cycle. One cron trigger (paged fetch →
  clean → upsert → checkpoint into a preloaded store; the only writes)
  lands a batch, then each LLM-curation operator runs once, in a seeded
  order; their cost is plan construction, eager driver jobs and memo
  builds.

A run generates its inputs from ``--seed``, launches Spark, times the
set-up several times, ingests the store's preload (curation_ops,
untimed), checks every query's output against its DuckDB oracle, runs
an untimed warm-up (a round; a trigger on curation_ops), then runs
whole rounds until ``--seconds`` have passed (two at least) and checks
the store.
It prints one metric per line, then the result as one JSON line.
``--trace 1`` runs the same loop with spans and Spark counters on and
reports per-layer metrics instead; the spans go to
``.perfbench/traces/``.

End-to-end metrics: ``setup_s`` (the registry import plus the median of
three session starts, each resolving the star schema's tables; the
first JVM launch is excluded), ``ops_per_s`` (the ops of a round over
the sum of each op's median latency in the timed region; an op is a
query or a trigger), ``op_p50_s`` and ``op_tail_s`` (p75) of all the
op latencies. Also printed: ``op_fail_ratio`` (raised or wrong
ops over ops attempted) and the ingest figures ``ingest_rows_per_s``
(rows kept per second of trigger latency), ``write_amp`` and
``space_amp``.

Exact counters (jobs, stages, tasks, bytes, memo entries, dead pages)
are taken over the first timed round, which every run completes, so two
runs with one seed must report them identically.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "agri_market_data_pipeline_spark")
WORKLOADS = ("price_queries", "curation_ops")
SETUP_REPS = 3
# A run measures whole rounds until --seconds have passed, and at least
# this many, so every op's median latency has more than one sample.
MIN_ROUNDS = 2
# op_tail_s is this percentile of the run's op latencies; a run has
# 8-20 samples at HEAD, too few for a higher one.
TAIL_PCT = 75


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.2f}s] {msg}",
          file=sys.stderr, flush=True)


def pin_environment(work: str) -> None:
    """One driver process, Spark on all cores but one, driver heap below
    physical RAM, scratch and temp files inside the checkout, no console
    progress. Must run before pyspark launches the JVM.

    The spare core runs the Python driver, the JIT compiler and the
    garbage collector. With a task thread on every core they queue
    behind the tasks: on a 4-vCPU VM, ops ran 15-25% slower with four
    task threads than with three, and price_queries' ops_per_s spread
    three times as widely over five seeds."""
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_mb = min(2048, mem_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_MASTER": f"local[{cores}]",
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts before the Spark driver
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '{jvm_opts}' pyspark-shell"),
    })


def percentile(values: list[float], pct: float) -> float:
    """Linear interpolation between closest ranks."""
    s = sorted(values)
    k = (len(s) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def ops_per_s(latencies: dict[str, list[float]]) -> float:
    """Ops per second of a round at each op's median latency: a closed
    loop's throughput, with an op that a host stall slowed once counting
    at its typical speed."""
    total = sum(statistics.median(v) for v in latencies.values())
    return len(latencies) / total if total else 0.0


def span_totals(spans, prefix: str) -> tuple[float, dict]:
    """Summed self time and counters of the spans named ``prefix`` or
    ``prefix:<anything>``."""
    secs, counters = 0.0, {}
    for s in spans:
        if s.name == prefix or s.name.startswith(prefix + ":"):
            secs += s.self_s
            for k, v in s.counters.items():
                counters[k] = max(counters.get(k, 0), v) if k.startswith("peak") \
                    else counters.get(k, 0) + v
    return secs, counters


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        log(f"engine package not found at {PACKAGE_DIR}")
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str) -> int:
    import numpy as np
    from pyspark import SparkContext

    t0 = time.perf_counter()
    from agri_market_data_pipeline_spark.registry import all_queries
    all_queries()
    registry_s = time.perf_counter() - t0

    from agri_market_data_pipeline_spark.session import get_spark
    from perfbench import workloads as W
    from perfbench.trace import Tracer

    log("imported")
    rng = np.random.default_rng(args.seed)
    wl = W.make(args.workload, work, args.seed, args.seconds)
    ingest = wl.ingest

    log("inputs generated")
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    log(f"JVM launch {time.perf_counter() - t0:.2f}s")
    try:
        session_s, warm_s = [], []
        for _ in range(SETUP_REPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            t1 = time.perf_counter()
            all_queries()
            wl.warm(spark)
            t2 = time.perf_counter()
            session_s.append(t1 - t0)
            warm_s.append(t2 - t1)
        spark.sparkContext.setLogLevel("ERROR")
        setup_s = registry_s + statistics.median(
            s + w for s, w in zip(session_s, warm_s))
        log(f"set-up: registry {registry_s:.2f}s, session {session_s}, warm {warm_s}")
        if ingest:
            t0 = time.perf_counter()
            ingest.preload(spark)
            log(f"store preloaded in {time.perf_counter() - t0:.2f}s")

        tracer = Tracer(spark, enabled=bool(args.trace))
        t0 = time.perf_counter()
        bad_ops = wl.check(spark, log)
        for item in wl.warm_up(rng):
            try:
                wl.run(spark, tracer, item)
            except Exception:  # noqa: BLE001 - fails again when timed
                log(traceback.format_exc())
        tracer.spans.clear()
        log(f"checked in {time.perf_counter() - t0:.2f}s")

        latencies, first_round, totals = {}, {}, {}
        attempted = failed = rounds = 0
        t_start = time.perf_counter()
        while True:
            for item in wl.round(rng):
                if wl.exhausted():
                    break
                attempted += 1
                try:
                    latency, stats = wl.run(spark, tracer, item)
                except Exception:  # noqa: BLE001 - counted as a failed op
                    failed += 1
                    log(traceback.format_exc())
                    continue
                if item in bad_ops:
                    failed += 1
                latencies.setdefault(item, []).append(latency)
                log(f"op {item} {latency:.3f}s")
                for k, v in stats.items():
                    totals[k] = totals.get(k, 0) + v
                    if rounds == 0:
                        first_round[k] = first_round.get(k, 0) + v
            rounds += 1
            log(f"round {rounds} done at {time.perf_counter() - t_start:.2f}s")
            if rounds == 1:
                first_round_spans = list(tracer.spans)
            elapsed = time.perf_counter() - t_start
            if (elapsed >= args.seconds and rounds >= MIN_ROUNDS) or wl.exhausted():
                break

        violations = ingest.check() if ingest else []
        for v in violations:
            log(f"ingest invariant violated: {v}")
        failed = min(attempted, failed + len(violations))

        ok = [x for v in latencies.values() for x in v] or [float("nan")]
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (ops_per_s(latencies), "1/s"),
            "op_p50_s": (statistics.median(ok), "s"),
            "op_tail_s": (percentile(ok, TAIL_PCT), "s"),
        }
        # Ingest-only figures: zero on price_queries, so they are
        # reported with the per-layer metrics rather than bounded.
        ingest_figures = {
            "ingest_rows_per_s": (totals["rows_kept"] / totals["trigger_s"]
                                  if totals.get("trigger_s") else 0.0, "rows/s"),
            "write_amp": (totals["bytes_written"] / totals["clean_bytes"]
                          if totals.get("clean_bytes") else 0.0, "ratio"),
            "space_amp": (ingest.space_amp() if ingest else 0.0, "ratio"),
        }
        side = {"op_fail_ratio": (failed / attempted, "ratio")}
        if args.trace:
            metrics = layer_metrics(tracer.spans, first_round_spans, first_round, wl, W)
            metrics.update({
                "session.get_spark_s": (statistics.median(session_s), "s"),
                "registry.all_queries_s": (registry_s, "s"),
                "tables.warm_s": (statistics.median(warm_s), "s"),
                "traced_ops_per_s": (ops_per_s(latencies), "1/s"),
                **ingest_figures,
            })
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces",
                                     f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = e2e
            side.update(ingest_figures)
        log(f"{attempted} ops in {rounds} rounds, {elapsed:.2f}s timed")
        for name, (value, unit) in {**metrics, **side}.items():
            print(f"{args.workload} {name} {value:.6g} {unit}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            log("stopped")


def layer_metrics(spans, first_spans, first_round, wl, W) -> dict:
    """Per-layer metrics: mean self seconds per query (operators, memo)
    or per trigger (sources, cleaning, sinks, checkpoint) over the whole
    timed region, exact counters over the first round."""
    count = {k: max(1, sum(s.name == k for s in spans)) for k in ("op", "trigger")}
    out = {}

    def time_of(prefix: str) -> float:
        per = "trigger" if prefix.startswith(("sources.", "functions.")) else "op"
        return span_totals(spans, prefix)[0] / count[per]

    build_s, exec_s = time_of("operators.build"), time_of("operators.exec")
    _, build_c = span_totals(first_spans, "operators.build")
    _, exec_c = span_totals(first_spans, "operators.exec")
    out["operators.build_s"] = (build_s, "s")
    out["operators.exec_s"] = (exec_s, "s")
    out["operators.build_share"] = (
        build_s / (build_s + exec_s) if build_s + exec_s else 0.0, "ratio")
    out["operators.build_jobs"] = (build_c.get("jobs", 0), "count")
    out["operators.exec_jobs"] = (exec_c.get("jobs", 0), "count")
    for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        unit = "bytes" if k.endswith("bytes") else "count"
        out[f"operators.{k}"] = (build_c.get(k, 0) + exec_c.get(k, 0), unit)
    out["operators.peak_exec_mem_bytes"] = (
        max(build_c.get("peak_exec_mem_bytes", 0), exec_c.get("peak_exec_mem_bytes", 0)),
        "bytes")
    for mod in sorted({W.layer_of(o) for o in W.PRICE_OPS + W.CURATION_OPS}):
        out[f"{mod}.build_s"] = (time_of(f"operators.build:{mod}"), "s")
        out[f"{mod}.exec_s"] = (time_of(f"operators.exec:{mod}"), "s")
    out["memo.entries_built"] = (first_round.get("memo_entries_built", 0), "count")
    out["memo.clear_all_s"] = (time_of("memo.clear_all"), "s")

    out["sources.paginated_api.read_s"] = (time_of("sources.paginated_api.read"), "s")
    out["sources.paginated_api.dead_pages"] = (first_round.get("dead_pages", 0), "count")
    out["functions.cleaning.clean_s"] = (time_of("functions.cleaning.clean"), "s")
    rows = first_round.get("rows", 0)
    out["functions.cleaning.kept_ratio"] = (
        first_round.get("rows_kept", 0) / rows if rows else 0.0, "ratio")
    out["sources.sinks.merge_upsert_s"] = (time_of("sources.sinks.merge_upsert"), "s")
    out["sources.sinks.bytes_written"] = (first_round.get("bytes_written", 0), "bytes")
    out["sources.sinks.files_written"] = (first_round.get("files_written", 0), "count")
    out["sources.sinks.store_bytes"] = (
        sum(W.tree_files(wl.ingest.prices).values()) if wl.ingest else 0,
        "bytes")
    out["sources.checkpoint.save_s"] = (time_of("sources.checkpoint.save"), "s")
    return out


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
