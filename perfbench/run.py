#!/usr/bin/env python3
"""The engine's benchmark: one workload, one fresh process per run.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 20 --trace 0

A run generates the workload's input tables from ``--seed`` into
``perfbench/.work/inputs/<workload>`` and drives the workload's fixed
query list as a closed loop with one client. Every execution goes
through the public layer APIs: ``registry.get_query(name).fn(spark,
inputs)`` builds the DataFrame, and toPandas() or a ``noop`` write
executes it.

A set-up clears the engine's staging for the inputs under ``.scratch``,
starts the engine with ``session.get_spark`` and runs one cold pass in
list order that collects each result with toPandas(); ``setup_s`` runs
from process start to the end of that pass. After the first set-up of a
run, outside every clock, each result is checked: a query with an
oracle against ``verify.run_oracle`` + ``verify.compare_frames``, a
rows-only query for a non-empty result and the same schema and row
digest on a second execution.

``--trace 0`` measures set-up alone: each set-up runs in a fresh child
process, until ``SETUP_QUIET_MIN`` of them were quiet (host steal below
stats.QUIET_STEAL_FRAC while they ran) and ``--seconds`` have passed,
at most ``SETUP_MAX`` and none that could end past ``DEADLINE_S``. The
result carries the median set-up time of the quiet ones; a run left
with fewer is unsteady: it reports the median over all its set-ups and
says UNSTEADY on the summary line before the result.

``--trace 1`` sets up in its own process, then runs seed-shuffled timed
passes for ``--seconds``, continued until ``QUIET_MIN`` untraced
passes were quiet, at most ``TIMED_MAX`` passes or twice ``--seconds``. They
alternate untraced and traced: the result carries queries_per_s and the
median latency of the untraced ones, the per-layer metrics of the
traced ones (layers.py), the tracing overhead and whether the run was
steady.

The last stdout line is the result JSON. Every set-up and pass, quiet
or not, the throughput figures and every span go to
``perfbench/.work/out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # set-up is timed from here

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Fixed query lists, resolved one by one with registry.get_query.
# Never registry.all_queries(): its order follows VERIFIED_HISTORY.json
# and plan fingerprints, so editing a query would reorder the workload.
WORKLOADS = {
    # The analyst's interactive search and aggregation over events:
    # planning, scheduling and codegen overhead, 2-5 jobs per query.
    "log_queries": (
        "log_error_rate_hourly", "log_top_services", "log_search",
        "log_burst_detect", "log_type_hour_matrix", "log_event_transitions",
        "log_user_funnel", "log_retention_cohorts", "log_gap_fill",
        "log_anomaly_zscore", "log_rollup_multires", "log_slo_burn",
        "log_corr_matrix", "log_seasonality_profile", "log_rollup_incremental",
        "log_template_mine", "log_entropy_profile", "log_alert_debounce",
        "log_latency_percentiles",
    ),
    # The LLM data engineer's sub-quadratic corpus pipeline: eager jobs
    # inside fn(), string hashing, GC and shuffle.
    "llm_dedup": (
        "dedup_exact_hash", "dedup_near_minhash", "dedup_simhash",
        "dedup_ngram_jaccard", "decontam_ngram_overlap", "text_tfidf",
        "dedup_clusters_cc", "pipeline_corpus_prep", "sim_ann_lsh",
        "text_ngram_topk",
    ),
    # The write side: file commit and listing, reads of the engine's
    # own output, streaming micro-batches and Python DataSource workers.
    "table_ingest": (
        "scan_text_parse", "scan_apache_log", "sink_parquet_partitioned",
        "table_merge_upsert", "scd2_merge", "table_optimize_compact",
        "table_time_travel", "table_incremental_changes",
        "scan_python_datasource", "sink_python_datasource", "stream_text_tail",
        "stream_tumbling", "stream_dedup", "stream_foreach_batch",
    ),
}

# Input row counts and planted duplicate shares (gen.generate): the
# sf0.1 row counts of FIXTURES.md for the tables the workloads scan;
# customer and orders, which they do not scan, keep their sf0.01 counts.
SIZES = {
    "events": 100_000,
    "users": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
    "customer": 1_500,
    "orders": 15_000,
    "near_dup_frac": 0.05,
    "exact_dup_frac": 0.01,
}

# Timed passes of a traced run: untraced and traced ones alternate
# until QUIET_MIN untraced ones were quiet.
QUIET_MIN = 1
TIMED_MAX = 6
# Set-ups of an untraced run: a loud one is repeated once. More
# set-ups do not fit the time budget: a sf0.1 llm_dedup set-up takes
# 40-60 s on a shared 4-vCPU host.
SETUP_QUIET_MIN = 1
SETUP_MAX = 2
# No set-up or timed pass starts that could end later than this many
# seconds after process start, and a set-up child still running at
# CHILD_LIMIT_S is killed.
DEADLINE_S = 150
CHILD_LIMIT_S = 170

# Metric names and units of the result line: END_TO_END with --trace 0,
# PER_LAYER with --trace 1 (BENCHMARK.json declares the same). The
# tracer also records the streaming.*, sources.* and scans.* layers
# (layers.SUMMED); they go to the detail file only, because they read
# zero on every run of the declared workloads: only table_ingest
# exercises them.
# queries_per_s and query_p50_s are layer metrics, not end-to-end ones:
# on a shared 4-vCPU VM their ten-seed spread (quartile distance /
# median) reached 0.27 on llm_dedup, because the host's speed changed by
# a quarter within minutes while /proc/stat showed no steal. Compare
# them only in interleaved A/B pairs.
END_TO_END = {"setup_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.pinned_rdds": "count",
    "operators.storage_bytes": "bytes",
    "operators.temp_views": "count",
    "spark.catalyst_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.slot_idle_frac": "1",
    "spark.exec_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "catalog.rows_read": "count",
    "catalog.bytes_read": "bytes",
    "catalog.rows_read_per_result_row": "1",
    "query.self_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "verify.mismatches": "count",
    "failed_frac": "1",
    "host.steal_frac": "1",
    "host.quiet_passes": "count",
    "host.steady": "1",
    "host.busy_cpu_s_per_query": "s",
    "host.setup_steal_frac": "1",
    "trace.overhead_frac": "1",
}


def pass_order(names: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The seed-shuffled query order of one pass."""
    return random.Random(f"{seed}/{pass_no}").sample(list(names), len(names))


def pin_environment() -> dict:
    """Pin what the engine reads from the environment, empty the Spark
    local and temp directories, and return the settings for the
    output. The Spark driver heap is a quarter of the machine's memory,
    at most 4 GiB (get_spark's default, 24g, does not fit a small host
    without swap)."""
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, mem_kib // 4 // 2**20))}g",
        # the engine's Python workers import linux_logs_spark
        "PYTHONPATH": ROOT,
        "TMPDIR": os.path.join(WORK, "tmp"),
        # keep the JVMs' temp files inside the checkout too; without
        # UsePerfData off, each JVM writes /tmp/hsperfdata_<user>/<pid>
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    for k, v in env.items():
        os.environ[k] = v
    os.environ.pop("SPARK_MASTER", None)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    return env


def staging_glob(inputs: str) -> str:
    """Glob of the engine's staging for ``inputs``: operators/scans.py
    keeps it under ``<repo>/.scratch/<basename>_<path hash>``."""
    tag = os.path.basename(os.path.normpath(inputs)).replace(".", "_")
    return os.path.join(ROOT, ".scratch", f"{glob.escape(tag)}_*")


def run_pass(spark, specs, inputs, order, tracer=None, pass_no=0, results=None) -> dict:
    """Execute each query once in ``order``: fn() then a noop write.
    Returns the pass record: wall, host CPU window, per-query latency,
    errors and, when traced, per-query layer metrics. With a
    ``results`` dict the pass collects each result with toPandas()
    instead, keeping (schema, frame) for verify()."""
    rec = {"order": order, "latency_s": {}, "errors": {}, "layers": {}}
    cpu0 = stats.read_cpu_times()
    w0 = time.perf_counter()
    for name in order:
        if tracer:
            tag = tracer.tag(pass_no, name)
            snap = tracer.begin()
            tracer.phase(tag, "build")
        try:
            t0 = time.perf_counter()
            df = specs[name].fn(spark, inputs)
            t1 = time.perf_counter()
            if tracer:
                tracer.phase(tag, "execute")
            t1b = time.perf_counter()
            if results is None:
                df.write.format("noop").mode("overwrite").save()
            else:
                results[name] = (df.schema.simpleString(), df.toPandas())
            t2 = time.perf_counter()
        except Exception as exc:  # counted in failed_frac, never hidden
            rec["errors"][name] = f"{type(exc).__name__}: {str(exc)[:500]}"
            continue
        rec["latency_s"][name] = t2 - t0
        if tracer:
            rec["layers"][name] = tracer.end(tag, df, snap, (t0, t1, t1b, t2))
    rec["wall_s"] = time.perf_counter() - w0
    rec.update(stats.cpu_window(cpu0, stats.read_cpu_times()))
    rec["pinned_rdds"] = len(spark.sparkContext._jsc.getPersistentRDDs())
    return rec


def set_up(inputs: str, names: tuple[str, ...]):
    """One set-up in this process: clear the staging, start the engine,
    resolve the queries and run the cold pass, collecting each result.
    Returns (spark, specs, cold pass, set-up record, results); the
    record's ``cold_end`` is time.monotonic() at the end of the pass and
    its steal window covers the whole set-up."""
    cpu0 = stats.read_cpu_times()
    for d in glob.glob(staging_glob(inputs)):
        shutil.rmtree(d)
    sys.path.insert(0, ROOT)
    from linux_logs_spark import registry, session

    t0 = time.perf_counter()
    spark = session.get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    specs = {n: registry.get_query(n) for n in names}
    registry_s = time.perf_counter() - t0
    results: dict = {}
    cold = run_pass(spark, specs, inputs, list(names), results=results)
    setup = {
        "cold_end": time.monotonic(),
        "get_spark_s": get_spark_s, "registry_load_s": registry_s,
        **stats.cpu_window(cpu0, stats.read_cpu_times()),
    }
    return spark, specs, cold, setup, results


def verify(spark, specs, inputs, results: dict) -> dict:
    """Check the cold pass's results, outside every clock. A query
    with an oracle must match it (verify.run_oracle +
    verify.compare_frames); a rows-only query must be non-empty and
    give the same schema and row digest when executed again."""
    from linux_logs_spark.verify import canonical_rows, compare_frames, run_oracle

    out = {}
    for name, (schema, pdf) in results.items():
        spec, issues = specs[name], []
        try:
            if spec.oracle is not None:
                issues = compare_frames(pdf, run_oracle(spec.oracle, inputs))
            else:
                df = spec.fn(spark, inputs)
                again = df.toPandas()
                if df.schema.simpleString() != schema:
                    issues.append(f"schema changed: {schema} -> {df.schema.simpleString()}")
                if pdf.empty:
                    issues.append("empty result")
                if stats.rows_digest(canonical_rows(pdf)) != stats.rows_digest(
                    canonical_rows(again)
                ):
                    issues.append("row digest differs between two executions")
        except Exception as exc:
            issues.append(f"{type(exc).__name__}: {str(exc)[:500]}")
        out[name] = {"rows": len(pdf), "oracle": spec.oracle is not None, "issues": issues}
    return out


def throughput(timed: list[dict], n_queries: int) -> dict:
    """queries_per_s and latency quantiles over the quiet timed passes;
    over all timed passes when none was quiet, which the caller flags
    as unsteady."""
    pool = stats.quiet(timed) or timed
    lat = [v for p in pool for v in p["latency_s"].values()]
    # the highest percentile with at least ten samples beyond it
    tail = next(
        ({"q": q, "s": v} for q in (0.99, 0.95, 0.9, 0.75)
         if (v := stats.tail_quantile(lat, q)) is not None),
        None,
    )
    return {
        "queries_per_s": n_queries / statistics.median(p["wall_s"] for p in pool),
        "query_p50_s": statistics.median(lat),
        "query_tail": tail,
        "latency_samples": len(lat),
    }


def layer_metrics(traced: list[dict], cores: int) -> dict:
    """Median over traced passes of each per-pass layer sum; levels
    (pinned RDDs, storage, views) as left by the last traced pass."""
    from layers import LEVELS, SUMMED

    per_pass = []
    for p in traced:
        rows = p["layers"].values()
        sums = {k: sum(r[k] for r in rows) for k in SUMMED}
        busy = sums["spark.exec_s"] * cores
        sums["spark.slot_idle_frac"] = 1 - sums["spark.task_run_s"] / busy if busy else 1.0
        per_pass.append(sums)
    out = {k: statistics.median(s[k] for s in per_pass) for k in per_pass[0]}
    after = [r for p in traced for r in p["layers"].values()]
    out.update({k: after[-1][k] if after else 0 for k in LEVELS})
    return out


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the gateway JVM quits
    when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def timed_passes(spark, specs, inputs, args, tracer) -> list[dict]:
    """Seed-shuffled passes for ``args.seconds``, then on until
    QUIET_MIN untraced passes were quiet, at most TIMED_MAX passes,
    twice the time or a pass that could end past DEADLINE_S. Untraced
    and traced passes alternate."""
    names = tuple(specs)
    timed, t0 = [], time.perf_counter()
    while len(timed) < TIMED_MAX:
        elapsed = time.perf_counter() - t0
        quiet = stats.quiet([p for p in timed if not p["traced"]])
        if elapsed >= args.seconds and len(timed) >= 2 and (
            len(quiet) >= QUIET_MIN or elapsed >= 2 * args.seconds
        ):
            break
        if timed and time.monotonic() - T_PROCESS + max(p["wall_s"] for p in timed) > DEADLINE_S:
            break
        pass_no = len(timed) + 1
        traced = len(timed) % 2 == 1
        rec = run_pass(
            spark, specs, inputs, pass_order(names, args.seed, pass_no),
            tracer if traced else None, pass_no,
        )
        rec["traced"] = traced
        timed.append(rec)
    return timed


def layer_report(timed, checks, setup, e2e, failed, attempted, cores) -> dict:
    """The per-layer metrics of a traced run; ``e2e`` holds the
    throughput() figures of its untraced passes."""
    traced = [p for p in timed if p["traced"]]
    untraced = [p for p in timed if not p["traced"]]
    m = layer_metrics(traced, cores)
    result_rows = sum(c["rows"] for c in checks.values())
    m.update({
        "catalog.rows_read_per_result_row": m["catalog.rows_read"] / max(1, result_rows),
        **{k: e2e[k] for k in ("queries_per_s", "query_p50_s")},
        "session.get_spark_s": setup["get_spark_s"],
        "registry.load_s": setup["registry_load_s"],
        "verify.mismatches": sum(1 for c in checks.values() if c["issues"]),
        "failed_frac": failed / attempted,
        "host.steal_frac": statistics.median(p["steal_frac"] for p in timed),
        "host.quiet_passes": len(stats.quiet(timed)),
        "host.steady": float(len(stats.quiet(untraced)) >= QUIET_MIN),
        "host.busy_cpu_s_per_query": sum(p["busy_cpu_s"] for p in timed)
        / sum(len(p["order"]) for p in timed),
        "host.setup_steal_frac": setup["steal_frac"],
        "trace.overhead_frac": statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in untraced) - 1,
    })
    return m


def setup_child(args, inputs: str) -> int:
    """Child-process side of a --trace 0 set-up: set up, verify the
    results when asked, stop the engine and write the record."""
    pin_environment()
    spark, specs, cold, setup, results = set_up(inputs, WORKLOADS[args.workload])
    checks = verify(spark, specs, inputs, results) if args.verify else {}
    del results
    shutdown(spark)
    with open(args.setup_child, "w") as f:
        json.dump({"setup": setup, "cold": cold, "checks": checks}, f)
    return 0


def spawn_setup(args, verify_results: bool) -> dict:
    """Run one set-up in a fresh child process and return its record,
    with ``setup_s`` from the spawn to the end of the cold pass. The
    child's output goes to stderr; a child that fails or outlives
    CHILD_LIMIT_S ends the run."""
    out = os.path.join(WORK, "setup.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--setup-child", out,
    ] + (["--verify"] if verify_results else [])
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, CHILD_LIMIT_S - (t0 - T_PROCESS)))
    except subprocess.TimeoutExpired:
        # the child's JVM and Python workers share its process group
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"set-up still running after {CHILD_LIMIT_S} s; killed")
    if rc != 0:
        raise SystemExit(f"set-up child exited with {rc}")
    with open(out) as f:
        rec = json.load(f)
    rec["setup"]["setup_s"] = rec["setup"].pop("cold_end") - t0
    rec["setup"]["child_s"] = time.monotonic() - t0
    return rec


def setups(args) -> list[dict]:
    """Set-ups in fresh child processes until SETUP_QUIET_MIN were
    quiet and ``args.seconds`` passed, at most SETUP_MAX and none that
    could end past DEADLINE_S; only the first verifies its results."""
    runs: list[dict] = []
    t0 = time.monotonic()
    while len(runs) < SETUP_MAX:
        done = [r["setup"] for r in runs]
        if len(stats.quiet(done)) >= SETUP_QUIET_MIN and time.monotonic() - t0 >= args.seconds:
            break
        if done and time.monotonic() - T_PROCESS + max(d["child_s"] for d in done) > DEADLINE_S:
            break
        runs.append(spawn_setup(args, verify_results=not runs))
    return runs


def setup_figure(done: list[dict]) -> tuple[float, bool]:
    """(setup_s, steady): the median set-up time of the quiet set-ups;
    of all of them, and not steady, when fewer than SETUP_QUIET_MIN
    were quiet."""
    quiet = stats.quiet(done)
    steady = len(quiet) >= SETUP_QUIET_MIN
    return statistics.median(d["setup_s"] for d in (quiet if steady else done)), steady


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: one --trace 0 set-up, run by spawn_setup()
    ap.add_argument("--setup-child", help=argparse.SUPPRESS)
    ap.add_argument("--verify", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    names = WORKLOADS[args.workload]
    inputs = os.path.join(WORK, "inputs", args.workload)
    if args.setup_child:
        return setup_child(args, inputs)

    env = pin_environment()
    import gen

    g0 = time.monotonic()
    shutil.rmtree(inputs, ignore_errors=True)
    gen.generate(inputs, args.seed, SIZES)
    gen_s = time.monotonic() - g0

    detail: dict = {}
    if args.trace:
        import layers

        spark, specs, cold, setup, results = set_up(inputs, names)
        setup["setup_s"] = setup.pop("cold_end") - T_PROCESS - gen_s
        checks = verify(spark, specs, inputs, results)
        del results
        tracer = layers.Tracer(spark, f"{args.workload}-{args.seed}", staging_glob(inputs))
        timed = timed_passes(spark, specs, inputs, args, tracer)
        shutdown(spark)
        passes = [dict(cold, stage="cold")] + [dict(p, stage="timed") for p in timed]
        untraced = [p for p in timed if not p["traced"]]
        steady = len(stats.quiet(untraced)) >= QUIET_MIN
        # traced passes included: their overhead is a few percent
        stationarity = stats.stationarity([p["wall_s"] for p in stats.quiet(timed)])
        e2e = throughput(untraced, len(names))
        detail.update(setup=setup, throughput=e2e, stationarity=stationarity,
                      spans=tracer.spans)
        summary = f"quiet timed passes {len(stats.quiet(untraced))}/{len(untraced)}, " \
            f"drift {stationarity['drift']}"
    else:
        runs = setups(args)
        checks = runs[0]["checks"]
        passes = [dict(r["cold"], stage="cold") for r in runs]
        done = [r["setup"] for r in runs]
        setup_s, steady = setup_figure(done)
        detail.update(setups=done)
        summary = f"quiet set-ups {len(stats.quiet(done))}/{len(done)}"

    attempted = sum(len(p["order"]) for p in passes)
    failed = sum(len(p["errors"]) for p in passes) + sum(
        1 for c in checks.values() if c["issues"]
    )
    if args.trace:
        metrics = layer_report(
            timed, checks, setup, e2e, failed, attempted, int(env["SPARK_GRAFT_CPUS"])
        )
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s}
        units = END_TO_END

    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_file = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out_file, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "env": env, "sizes": SIZES, "gen_s": gen_s,
            "quiet_steal_frac": stats.QUIET_STEAL_FRAC, "steady": steady,
            "metrics": metrics, "passes": passes, "verify": checks,
            "attempted": attempted, "failed": failed, **detail,
        }, f, indent=1)
    for name, c in checks.items():
        if c["issues"]:
            print(f"MISMATCH {name}: {c['issues']}", file=sys.stderr)
    for p in passes:
        for name, err in p["errors"].items():
            print(f"ERROR {name}: {err}", file=sys.stderr)
    print(f"{'steady' if steady else 'UNSTEADY'}: {summary}; detail {out_file}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
