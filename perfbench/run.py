"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (see perfbench/README.md):

* ``medallion_trickle`` - 2k-row CSV landings through bronze → silver → gold;
* ``registry_mix``      - a fixed mix of registry queries over the fixed
  tables in ``perfbench/fixtures/``.

Medallion inputs are generated from ``--seed`` before the set-up clock starts.
``--seconds`` fixes the amount of timed work (landings or query passes)
through a nominal per-operation time, so a given ``--seconds`` always
does the same work. Outputs are checked after the timed phase.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones, and the spans
and layer table are also written to ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion_trickle", "registry_mix")
CPUS = 4
# the engine's TPC-H-style test tables at scale 0.01, copied verbatim
REGISTRY_TABLES = os.path.join(HERE, "fixtures", "sf0.01")
REGISTRY_PASS_S = 34.0  # nominal seconds per pass over registry.MIX
REGISTRY_WARMUP = ("q4_order_priority", "q6_forecast_revenue", "q12_priority_lines", "q14_promo_revenue")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    engine importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        # keep every batch's progress so late drops can be checked per run
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(work: str, trace: bool, cpus: int):
    from investcloud_data_pipeline_spark.session import get_spark

    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    return get_spark("perfbench", cpus=cpus, extra_conf=spark_conf(work, trace))


def stop_jvm() -> None:
    """Stop the active session and wait for the gateway JVM (and with it
    the Python workers it started) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def engine_totals(groups: dict[str, dict[str, float]], keep) -> dict[str, float]:
    out = {k: 0.0 for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                            "executor_run_s", "gc_s", "input_records", "jobs", "stages", "tasks")}
    for g, st in groups.items():
        if keep(g):
            for k in out:
                out[k] += st.get(k, 0.0)
    return out


def run_medallion(args, tracer, work: str) -> dict:
    import loadgen
    import medallion
    from spans import event_log_by_group

    n_timed = medallion.timed_landings(args.seconds)
    t = time.perf_counter()
    exp = loadgen.generate(os.path.join(work, "stage"), args.seed,
                           medallion.WARMUP + n_timed, medallion.ROWS)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    spark = start_session(work, args.trace, args.cpus)
    session_s = time.perf_counter() - t
    pipe = medallion.Pipeline(spark, os.path.join(work, "pipe"), args.seed)
    with tracer.span("warmup") as warm:
        for lnd in exp.landings[: medallion.WARMUP]:
            pipe.land(lnd, tracer, parent=warm)
    setup_s = time.perf_counter() - T_START - gen_s

    timed = medallion.run_landings(pipe, exp.landings[medallion.WARMUP :], tracer)
    t_end_ms = int(time.time() * 1000)
    log("landing latencies, bronze/silver/gold (s): " + " ".join(
        "/".join(f"{x:.2f}" for x in s) for s in timed["split"]))
    layers = medallion.stream_layers(pipe, timed) if args.trace else {}
    late = medallion.late_dropped_total(pipe)
    gold_group = str(pipe.queries[2].runId)
    pipe.stop()
    checks, quarantine = medallion.check(pipe.paths, exp, late)
    result = {
        "ops": n_timed, "failed_ops": 0,
        "checks": len(checks), "failed_checks": sum(not ok for ok in checks.values()),
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(timed["latency"]),
            "latency_mean_s": timed["wall"] / n_timed,
        },
        "session_s": session_s, "gen_s": gen_s, "timed_wall": timed["wall"],
    }
    if args.trace:
        n_all = len(exp.landings)
        layers["bronze.quarantine_rows_per_landing"] = quarantine / n_all
        layers["bronze.files_written_per_landing"] = medallion.files_written(pipe.paths) / n_all
        spark.stop()
        groups = event_log_by_group(os.path.join(work, "eventlog"), timed["since_ms"], t_end_ms)
        layers["gold.rescan_rows_per_landing"] = groups.get(gold_group, {}).get("input_records", 0.0) / n_timed
        layers.update({f"engine.{k}": v for k, v in engine_totals(groups, lambda g: True).items()})
        result["layers"] = layers
    return result


def one_core_ratio(args, base: float) -> float | None:
    """Run the same workload, seed and amount of work on one core in a
    fresh process (so neither side inherits the other's JIT state) and
    return its ``latency_mean_s`` over this run's ``base``: above 1 means
    four cores were faster. None when that run fails."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0", "--cpus", "1"]
    # the traced run as a whole must end within 180 s
    budget = 175 - (time.perf_counter() - T_START)
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=budget, cwd=ROOT)
    except subprocess.TimeoutExpired:
        log(f"one-core run did not finish within {budget:.0f} s")
        return None
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log(f"one-core run failed:\n{proc.stderr[-2000:]}")
        return None
    result = json.loads(lines[-1])
    if not result["correct"]:
        return None
    return result["metrics"]["latency_mean_s"]["value"] / base


def warm_registry(spark) -> None:
    """JVM, codegen and parquet footers, then the Python worker pool (the
    warm-up of bench.py), so that no query pays for session start-up.
    The TPC-H shapes warm Catalyst and codegen; they are outside the mix
    and use no session store, so the timed pass still builds every store."""
    import __spark_entry__ as entry
    from investcloud_data_pipeline_spark.sources.batch import load_table

    for name in ("lineitem", "events"):
        load_table(spark, REGISTRY_TABLES, name).limit(1).count()
    queries = entry.queries()
    for name in REGISTRY_WARMUP:
        queries[name](spark, REGISTRY_TABLES).collect()

    def ident(batches):
        yield from batches

    par = spark.sparkContext.defaultParallelism
    spark.range(0, par, 1, par).mapInPandas(ident, "id long").write.format(
        "noop").mode("overwrite").save()


def run_registry(args, tracer, work: str) -> dict:
    import registry
    from spans import event_log_by_group

    t = time.perf_counter()
    spark = start_session(work, args.trace, args.cpus)
    session_s = time.perf_counter() - t
    tracer.job_group(spark.sparkContext, "warmup")
    with tracer.span("warmup"):
        warm_registry(spark)
    setup_s = time.perf_counter() - T_START

    passes = max(1, round(args.seconds / REGISTRY_PASS_S))
    t0_ms = int(time.time() * 1000)
    out = registry.run(spark, REGISTRY_TABLES, passes, tracer)
    t_end_ms = int(time.time() * 1000)
    lat = [total for _, _, total in out["samples"]]
    bad = registry.check(REGISTRY_TABLES, out["results"])
    n_ops = len(out["samples"]) + len(out["failed"])
    result = {
        "ops": n_ops, "failed_ops": len(out["failed"]),
        "checks": len(out["results"]), "failed_checks": len(bad),
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lat),
            "latency_mean_s": out["wall"] / n_ops,
        },
        "session_s": session_s, "gen_s": 0.0, "timed_wall": out["wall"],
    }
    if args.trace:
        spark.stop()
        groups = event_log_by_group(os.path.join(work, "eventlog"), t0_ms, t_end_ms)
        construct = engine_totals(groups, lambda g: g.endswith(":construct"))
        execute = engine_totals(groups, lambda g: g.endswith(":execute"))
        layers = {
            "plans.construct_s": sum(c for _, c, _ in out["samples"]),
            "plans.execute_s": sum(tot - c for _, c, tot in out["samples"]),
            "plans.jobs_construct": construct["jobs"],
            "plans.jobs_execute": execute["jobs"],
            "plans.stages": construct["stages"] + execute["stages"],
            "plans.tasks": construct["tasks"] + execute["tasks"],
        }
        for fam in registry.FAMILIES:
            layers[f"family.{fam}.s"] = sum(
                tot for n, _, tot in out["samples"] if registry.MIX[n] == fam)
        for name in registry.MIX:
            layers[f"query.{name}.s"] = sum(tot for n, _, tot in out["samples"] if n == name)
        layers.update({f"engine.{k}": v for k, v in engine_totals(
            groups, lambda g: g != "warmup" and g != "harness").items()})
        result["layers"] = layers
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=CPUS, help="local[N] cores (default 4)")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import __spark_entry__  # noqa: F401
        import investcloud_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        log(f"the engine is not importable from {ROOT}: {exc}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    try:
        if args.workload == "registry_mix":
            res = run_registry(args, tracer, work)
        else:
            res = run_medallion(args, tracer, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["ops"] + res["checks"]
    failed = res["failed_ops"] + res["failed_checks"]
    if args.trace:
        layers = res["layers"]
        ratio = one_core_ratio(args, res["e2e"]["latency_mean_s"])
        attempted += 1
        failed += ratio is None
        layers["scaling.4c_vs_1c"] = ratio or 0.0
        layers.update({
            "session.start_s": res["session_s"],
            "gen.s": res["gen_s"],
            "ops.attempted": attempted,
            "ops.failed": failed,
            "trace.overhead_pct": 100 * tracer.overhead_s / res["timed_wall"],
        })
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            per_layer = json.load(fh)["per_layer"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in per_layer}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json"))
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-layers.json"), "w") as fh:
            json.dump({"layers": layers, "e2e": res["e2e"], "self_s": tracer.self_times()},
                      fh, indent=1, sort_keys=True)
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in res["e2e"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
