"""Repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ims_pyramid --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is the result JSON
(``correct``, ``attempted``, ``failed``, ``metrics``): end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line before
it records the host state. Inputs, outputs and Spark temporary files stay
under ``perfbench/.data`` and ``perfbench/.work``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "aind_exaspim_data_transformation_spark"
#: Session restarts after the measured runs; setup_s is the median of
#: the first (full) setup and these.
RESTARTS = 2
#: Unmeasured (but checked) runs between the cold run and the steady
#: runs: Python workers and the JIT are still warming up in the first.
WARMUP_RUNS = 1
#: Steady runs measured even when --seconds passes sooner.
MIN_STEADY_RUNS = 2
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def since_process_start() -> float:
    """Seconds since this process started (procfs, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rfind(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Adopt every orphaned descendant (PR_SET_CHILD_SUBREAPER), so the
    Spark Python daemon and multiprocessing helpers that outlive their
    parents can still be waited for here."""
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rfind(")") + 2 :].split()[1]) == me:
            kids.append(int(entry))  # zombies too: the next pass reaps them
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> None:
    """Stop and wait for every process this run started: close the
    multiprocessing resource tracker, give the rest ``grace_s`` to exit on
    their own, then SIGTERM, then SIGKILL, reaping until none is left."""
    try:
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    except Exception:  # noqa: BLE001 — the kill loop below still applies
        pass
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() >= deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def configure_env(root: str, work: str, cores: int) -> None:
    """Environment the JVM and its Python workers inherit: the program and
    the benchmark on the path, every temporary file inside the checkout,
    and the session sized to this host instead of the 32-core default."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Every JVM spark-submit starts (launcher and session): temp files in the
    # checkout, no hsperfdata file.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}"
    )


def start_session(work: str, cores: int):
    """Session ready and one Python worker per core started."""
    from aind_exaspim_data_transformation_spark.session import get_spark
    from aind_exaspim_data_transformation_spark.sources.zarr_datasource import (
        ZarrShardDataSource,
    )

    spark = get_spark(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(ZarrShardDataSource)
    spark.range(0, cores, numPartitions=cores).mapInPandas(
        lambda it: it, "id long"
    ).collect()
    return spark


def stop_session(spark, final: bool) -> None:
    """Stop the context; on the final stop also end the JVM and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if final and gateway is not None and getattr(gateway, "proc", None):
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then reap
            gateway.proc.kill()
            gateway.proc.wait()


def e2e_metrics(wl, runs: list[dict], setups: list[float],
                attempted: int, failed: int) -> dict:
    med = lambda key: statistics.median(r[key] for r in runs)  # noqa: E731
    run_s = med("run_s")
    m = {
        "setup_s": (statistics.median(setups), "s"),
        "run_s": (run_s, "s"),
    }
    if wl.src_bytes:
        m["convert_gbps"] = (wl.src_bytes / 1e9 / run_s, "GB/s")
        m["write_gbps"] = (wl.src_bytes / 1e9 / med("write_s"), "GB/s")
        m["stored_ratio"] = (wl.src_bytes / runs[-1]["stored_bytes"], "ratio")
    m["ok_frac"] = (1.0 - failed / attempted, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


LAYER_UNITS = (
    ("_mbps", "MB/s"), ("_gb", "GB"), ("_s", "s"), ("_frac", "ratio"),
    ("_ratio", "ratio"), (".s", "s"),
)


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


#: Top-level span (or span-name prefix) -> phase of the traced run.
TRACE_PHASES = {
    "session": "session",
    "pipeline": "runs",
    "queries": "runs",
    "zarr_datasource.payload_scan": "runs",
    "bench.check": "check",
    "replay": "replay",
    "sources": "extras",
    "zarr_datasource": "extras",
}


def layer_metrics(wl, spark_start_s: float, restarts: list[float], cold: dict,
                  runs: list[dict], traced_runs: list[dict],
                  plain_runs: list[dict], untraced_s: float, extras: dict,
                  replay: dict, pool: dict, tracer) -> dict:
    last = runs[-1]
    stats = last.get("stats", {})
    m = {
        # One sample per process, and it swings with the shared host by
        # more than any end-to-end bound allows, so it is not gated.
        "cold_run_s": cold["run_s"],
        "session.start_s": spark_start_s,
        "session.restart_s": statistics.median(restarts),
        "session.pyworker_rss_gb": pool["rss_bytes"] / 1e9,
        "sources.discover_s": 0.0,
        "sources.ims.read_s": 0.0,
        "sources.ims.read_mbps": 0.0,
        "sources.npy.read_s": 0.0,
        "sources.npy.read_mbps": 0.0,
        "downsample.s": 0.0,
        "downsample.mean_mbps": 0.0,
        "zarr_datasource.partitions_s": 0.0,
        "zarr_datasource.meta_scan_s": 0.0,
        "zarr_datasource.payload_scan_s": 0.0,
        "zarr_datasource.spark_tasks": 0,
    }
    m.update(extras)
    m.update(replay)
    if wl.src_bytes:
        # Stage stats returned by the conversion: task seconds per level.
        level_s = {0: 0.0, 1: 0.0, 2: 0.0}
        shards = 0
        for tile in stats.get("tiles", {}).values():
            level_s[0] += tile.get("task_seconds") or 0.0
            shards += tile.get("n_shards") or 0
        for stage in stats.get("stages", []) + stats.get("downsample_stages", []):
            level_s[stage.get("level", 0)] += stage.get("task_seconds") or 0.0
            shards += stage.get("n_shards") or 0
        for lvl, s in level_s.items():
            m[f"pipeline.level{lvl}.task_s"] = s
        m["pipeline.task_s"] = sum(level_s.values())
        m["pipeline.shards"] = shards
        m["pipeline.errors"] = stats.get("n_errors") or 0
        m["pipeline.spark_stages"] = last["spark"]["stages"]
        m["pipeline.spark_tasks"] = last["spark"]["tasks"]
        m["pipeline.failed_tasks"] = sum(r["spark"]["failed"] for r in runs)
        if "read_spark" in last:
            m["zarr_datasource.payload_scan_s"] = statistics.median(
                r["read_s"] for r in runs
            )
            m["zarr_datasource.spark_tasks"] = last["read_spark"]["tasks"]
    # Where the traced wall time went: the inclusive time of every span
    # directly under the run, by phase, plus the untraced runs and what
    # no span covers. These add up to trace.wall_s.
    phases = dict.fromkeys(TRACE_PHASES.values(), 0.0)
    root = tracer.spans[0]
    for s in tracer.spans:
        if s["parent"] == root["id"]:
            phase = TRACE_PHASES.get(s["name"].split(".")[0], "extras")
            phase = TRACE_PHASES.get(s["name"], phase)
            phases[phase] += s["end"] - s["start"]
    for phase, secs in phases.items():
        m[f"trace.{phase}_s"] = secs
    m["trace.untraced_runs_s"] = untraced_s
    m["trace.unattributed_s"] = tracer.self_times()[root["id"]] - untraced_s
    m["trace.wall_s"] = root["end"] - root["start"]
    m["trace.overhead_s"] = (
        statistics.median(r["run_s"] for r in traced_runs)
        - statistics.median(r["run_s"] for r in plain_runs)
        if traced_runs and plain_runs
        else 0.0
    )
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(m.items())}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found "
              f"in {root})", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from spans import SparkWork, Tracer, host_state  # noqa: E402
    from workloads import WORKLOADS  # noqa: E402

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(root, work, cores)
    import pyspark  # noqa: F401,E402 — import cost belongs to setup

    import aind_exaspim_data_transformation_spark.session  # noqa: F401,E402

    pre_setup_s = since_process_start()

    host = host_state(work)
    t0 = time.monotonic()
    wl = WORKLOADS[args.workload](root, work, args.seed, cores)  # fixtures
    fixture_s = time.monotonic() - t0
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    traced_runs: list[dict] = []
    plain_runs: list[dict] = []
    extras: dict = {}
    replay: dict = {}
    with tracer.span("run"):
        with tracer.span("session.start"):
            t0 = time.monotonic()
            spark = start_session(work, cores)
            first_setup = pre_setup_s + time.monotonic() - t0
        work_groups = SparkWork(spark, run_id)
        cold = wl.run(spark, work_groups, tracer, "cold")
        warmups = [
            wl.run(spark, work_groups, tracer, f"warmup{i}")
            for i in range(WARMUP_RUNS)
        ]
        runs: list[dict] = []
        t_loop = time.monotonic()
        untraced_s = 0.0
        while (
            len(runs) < MIN_STEADY_RUNS
            or time.monotonic() - t_loop < args.seconds
        ):
            # Traced runs alternate spans on and off to measure overhead.
            tracer.enabled = bool(args.trace) and len(runs) % 2 == 0
            t0 = time.monotonic()
            runs.append(wl.run(spark, work_groups, tracer, f"run{len(runs)}"))
            if tracer.enabled:
                traced_runs.append(runs[-1])
            else:
                plain_runs.append(runs[-1])
                untraced_s += time.monotonic() - t0
        tracer.enabled = bool(args.trace)
        if args.trace:
            extras = wl.traced_extras(spark, work_groups, tracer)
            replay = wl.replay(
                tracer, statistics.median(r.get("write_s", r["run_s"]) for r in runs)
            )
        from aind_exaspim_data_transformation_spark.queries.lifecycle import (
            python_worker_pool_stats,
        )

        pool = python_worker_pool_stats(spark)
        restarts = []
        for _ in range(RESTARTS):
            stop_session(spark, final=False)
            with tracer.span("session.restart"):
                t0 = time.monotonic()
                spark = start_session(work, cores)
                restarts.append(time.monotonic() - t0)
    stop_session(spark, final=True)

    all_runs = [cold] + warmups + runs
    attempted = sum(r["attempted"] for r in all_runs)
    failed = sum(r["failed"] for r in all_runs)
    if args.trace:
        metrics = layer_metrics(
            wl, first_setup, restarts, cold, runs, traced_runs, plain_runs,
            untraced_s, extras, replay, pool, tracer,
        )
    else:
        metrics = e2e_metrics(
            wl, runs, [first_setup] + restarts, attempted, failed
        )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    record = {
        "run_id": run_id,
        "host": host,
        "setups_s": [first_setup] + restarts,
        "fixture_s": fixture_s,
        "process_s": since_process_start(),
        "cold": {k: v for k, v in cold.items() if k != "stats"},
        "warmups": [{k: v for k, v in r.items() if k != "stats"} for r in warmups],
        "runs": [{k: v for k, v in r.items() if k != "stats"} for r in runs],
        "result": result,
    }
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    tracer.write(
        os.path.join(HERE, ".results", f"{run_id.rsplit('-', 1)[0]}.json"), record
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    become_subreaper()
    code = 1
    try:
        code = main(sys.argv[1:])
    except Exception:  # noqa: BLE001 — report, never print a result line
        traceback.print_exc()
    finally:
        stop_descendants()
    sys.exit(code)
