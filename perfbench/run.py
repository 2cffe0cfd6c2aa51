"""graphlite_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload zipf-hubs --seed 1 --seconds 10 --trace 0

Run from the repository root.  One Spark session, ``local[min(4, nproc)]``,
one job at a time (a closed loop with one client).  Set-up starts the
session and generates the inputs from ``--seed``; then jobs run back to
back until ``--seconds`` have passed.  The first ``WARMUP_JOBS`` jobs are
the warm-up: they count toward ``setup_s`` and no job metric.  Every job's outputs are
checked against the oracles in ``oracles.py``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced jobs and prints the per-layer metrics, the layers'
self times and the tracing overhead.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPEATS = 3
# Spark keeps JIT-compiling for about two jobs after start (measured: the
# first job runs ~2x, the second ~1.25x the steady wall time), so both
# are warm-up
WARMUP_JOBS = 2
DRIVER_MEMORY = "2g"


def _quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _load1() -> float:
    return os.getloadavg()[0]


def _calibration_s() -> float:
    """Wall time of a fixed single-threaded loop: a host-speed reading
    taken before and after the run, so a slow machine shows up in the
    disclosure instead of only in the metrics."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x ^= i * 7
    return time.perf_counter() - t0


def _cpu_steal() -> int:
    """Cumulative steal jiffies over all CPUs: time a hypervisor gave this
    machine's vCPUs to someone else, the mark of a noisy neighbour."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def start_session(run_dir: Path, cores: int):
    from graphlite_spark.session import get_spark

    tmp = run_dir / "tmp"
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        cores=cores,
        shuffle_partitions=cores,
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(jobs: list[dict], setup_s: float) -> dict[str, tuple[float, str]]:
    """The gated metrics (``BENCHMARK.json`` ``end_to_end``)."""
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (statistics.median(j["wall_s"] for j in jobs), "s"),
        "supersteps": (statistics.median(j["supersteps"] for j in jobs), "count"),
        "recovery_s": (statistics.median(j["recovery_s"] for j in jobs), "s"),
    }


def ungated(jobs: list[dict]) -> dict[str, tuple[float, str]]:
    """End-to-end metrics that are printed but not gated (README.md says
    why for each)."""
    from graphlite_spark.metrics import edges_per_second

    ss = [m for j in jobs for m in j["superstep_metrics"]]
    walls = [m.wall_ms / 1000.0 for m in ss]
    return {
        "edges_per_s": (edges_per_second(ss), "1/s"),
        "superstep_s.p50": (_quantile(walls, 0.5), "s"),
        "superstep_s.p90": (_quantile(walls, 0.9), "s"),
        "peak_rss_mb": (max(j["peak_rss_mb"] for j in jobs), "MB"),
    }


def layer_metrics(job: dict, spans, cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced job, from its spans and counters."""
    from perfbench.workloads import PREGEL_SPANS

    def walls(name):
        return sum(s.end - s.start for s in spans if s.name == name)

    def counter(names, key):
        return sum(s.counters.get(key, 0.0) for s in spans if s.name in names)

    ss = job["superstep_metrics"]
    n_ss = len(ss)
    ss_ms = [m.wall_ms for m in ss]
    pregel_s = sum(walls(n) for n in PREGEL_SPANS)
    tri_skew = [s.counters.get("task_skew", 0.0) for s in spans if s.name == "algos.triangles"]
    values = job["values"]
    out = {
        "derive.s": walls("plans.derive"),
        "derive.stages": counter(("plans.derive",), "stages"),
        "derive.shuffle_write_bytes": counter(("plans.derive",), "shuffleWriteBytes"),
        "derive.vertices": float(values.get("derive_vertices", 0)),
        "derive.edges": float(values.get("derive_edges", 0)),
        "pregel.run_s": pregel_s,
        "pregel.outside_supersteps_s": pregel_s - sum(ss_ms) / 1000.0,
        "pregel.superstep_ms.p50": _quantile(ss_ms, 0.5),
        "pregel.superstep_ms.p90": _quantile(ss_ms, 0.9),
        "pregel.slot_busy_frac": (
            counter(PREGEL_SPANS, "executorRunTime") / 1000.0 / (pregel_s * cores)
            if pregel_s else 0.0
        ),
        "pregel.stages_per_superstep": counter(PREGEL_SPANS, "stages") / n_ss if n_ss else 0.0,
        "pregel.tasks_per_superstep": counter(PREGEL_SPANS, "numTasks") / n_ss if n_ss else 0.0,
        "pregel.messages": float(sum(m.sent for m in ss)),
        "pregel.shuffle_write_bytes_per_superstep": (
            counter(PREGEL_SPANS, "shuffleWriteBytes") / n_ss if n_ss else 0.0
        ),
        "checkpoint.save_s": walls("checkpoint.save"),
        "checkpoint.commit_s": walls("checkpoint.commit"),
        "checkpoint.latest_s": walls("checkpoint.latest"),
        "checkpoint.bytes_written": float(values.get("checkpoint_bytes", 0)),
        "checkpoint.manifests": float(values.get("checkpoint_manifests", 0)),
        "pagerank.s": walls("algos.pagerank"),
        "lpa.s": walls("algos.lpa"),
        "components.s": walls("algos.components"),
        "components.supersteps": float(values.get("cc_supersteps", 0)),
        "triangles.s": walls("algos.triangles"),
        "triangles.shuffle_write_bytes": counter(("algos.triangles",), "shuffleWriteBytes"),
        "triangles.spill_bytes": counter(
            ("algos.triangles",), "memoryBytesSpilled"
        ) + counter(("algos.triangles",), "diskBytesSpilled"),
        "triangles.task_skew": max(tri_skew, default=0.0),
    }
    return out


SELF_TIME_SPANS = (
    "job",
    "plans.derive",
    "algos.pagerank",
    "algos.lpa",
    "algos.components",
    "algos.triangles",
    "checkpoint.save",
    "checkpoint.commit",
    "checkpoint.latest",
    "trace.probe",
)


def run(args) -> dict:
    from perfbench.probe import JvmMemory, StatusProbe, Tracer
    from perfbench.workloads import WORKLOADS
    from perfbench import oracles
    import pyspark

    work = ROOT / ".bench_build" / "perfbench"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    os.environ.pop("SPARK_GRAFT_EXPLAIN_SS", None)

    cores = min(4, os.cpu_count() or 1)
    disclosure = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": cores,
        "load1_before": _load1(),
        "steal_jiffies": -_cpu_steal(),
        "calibration_s_before": _calibration_s(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores)
        session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        mem = JvmMemory(SparkContext._gateway.proc.pid)
        tracer = Tracer(False, StatusProbe(spark) if args.trace else None)
        wl = WORKLOADS[args.workload](spark, run_dir, tracer)

        # set-up: the generation is repeated and its median taken
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate(args.seed, cores)
            gen_s.append(time.perf_counter() - t0)
        expected = oracles.cached(work / "oracle" / oracles.cache_name(wl, args.seed), wl.oracle)

        attempted = failed = 0

        def one_job(job_id: str, traced: bool, warmup: bool = False) -> dict | None:
            nonlocal attempted, failed
            attempted += 1
            tracer.enabled, tracer.run_id = traced, job_id
            mem.reset()
            try:
                t0 = time.perf_counter()
                with tracer.span("job"):
                    out = wl.job(warmup=warmup)
                wall = time.perf_counter() - t0
                peak = mem.peak_mb()
                tracer.enabled = False
                errs = wl.check(out, expected, warmup=warmup)
            except Exception:
                tracer.enabled = False
                failed += 1
                print(f"{job_id}: job raised\n{traceback.format_exc()}", file=sys.stderr)
                return None
            if errs:
                # still timed, so still in the metrics; counted as failed
                failed += 1
                print(f"{job_id}: wrong output: {'; '.join(errs)}", file=sys.stderr)
            return {
                "id": job_id,
                "correct": not errs,
                "traced": traced,
                "wall_s": wall,
                "peak_rss_mb": peak,
                "supersteps": out.supersteps,
                "recovery_s": out.recovery_s if out.recovery_s is not None else wall,
                "superstep_metrics": [m for r in out.pregel for m in r.metrics],
                "values": out.values,
            }

        # jobs run back to back for --seconds; the warm-up jobs count
        # toward set-up and are left out of every job metric
        jobs: list[dict] = []
        t_start = time.perf_counter()
        warmup_s = 0.0
        min_jobs = WARMUP_JOBS + (2 if args.trace else 1)
        n = 0
        while True:
            warmup = n < WARMUP_JOBS
            # --trace 1 alternates untraced and traced jobs after the warm-up
            traced = bool(args.trace) and not warmup and (n - WARMUP_JOBS) % 2 == 1
            t0 = time.perf_counter()
            job = one_job(f"job{n}", traced=traced, warmup=warmup)
            if warmup:
                warmup_s += time.perf_counter() - t0
            elif job is not None:
                jobs.append(job)
            n += 1
            if time.perf_counter() - t_start >= args.seconds and n >= min_jobs:
                break
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        disclosure["steal_jiffies"] += _cpu_steal()
        untraced_jobs = [j for j in jobs if not j["traced"]]
        if untraced_jobs:
            disclosure["ungated"] = {
                k: {"value": v, "unit": u} for k, (v, u) in ungated(untraced_jobs).items()
            }
        disclosure.update(
            load1_after=_load1(),
            calibration_s_after=_calibration_s(),
            session_s=session_s,
            generate_s=gen_s,
            warmup_s=warmup_s,
            jobs=[
                {k: j[k] for k in ("id", "correct", "traced", "wall_s", "peak_rss_mb", "supersteps")}
                for j in jobs
            ],
        )
        runs = work / "runs"
        runs.mkdir(parents=True, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        (runs / f"{stem}-disclosure.json").write_text(json.dumps(disclosure))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        untraced = [j for j in jobs if not j["traced"]]
        traced = [j for j in jobs if j["traced"]]
        metrics: dict[str, tuple[float, str]] = {}
        if not args.trace and untraced:
            metrics = end_to_end(untraced, setup_s)
        elif args.trace and traced and untraced:
            per_job = []
            for j in traced:
                m = layer_metrics(j, tracer.of_run(j["id"]), cores)
                st = tracer.self_times(j["id"])
                m.update({f"self_s.{k}": st.get(k, 0.0) for k in SELF_TIME_SPANS})
                per_job.append(m)
            layer = {k: statistics.median(m[k] for m in per_job) for k in per_job[0]}
            layer["session.start_s"] = session_s
            layer["sources.gen_s"] = statistics.median(gen_s)
            layer["trace.overhead_s"] = statistics.median(
                j["wall_s"] for j in traced
            ) - statistics.median(j["wall_s"] for j in untraced)
            metrics = {k: (v, layer_unit(k)) for k, v in layer.items()}
            (runs / f"{stem}-spans.json").write_text(json.dumps(tracer.to_json()))
        result["metrics"] = metrics
        return {"result": result, "disclosure": disclosure}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_unit(name: str) -> str:
    if name.startswith("self_s.") or name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "superstep_ms" in name:
        return "ms"
    if "bytes" in name:
        return "B"
    if name.endswith("_frac") or name.endswith("_skew"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "graphlite_spark" / "__init__.py").is_file():
        print(f"graphlite_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    rep = run(args)
    res, disc = rep["result"], rep["disclosure"]
    if not res["metrics"]:
        print("no job completed; no metrics", file=sys.stderr)
        return 1
    for name, (value, unit) in res["metrics"].items():
        print(f"{name:<42} {value:>16.6g} {unit}")
    # reported, but outside the gated set (see README.md)
    timed = [j for j in disc["jobs"] if not j["traced"]]
    if not args.trace:
        for name, m in disc["ungated"].items():
            print(f"{name:<42} {m['value']:>16.6g} {m['unit']}  (not gated)")
    print(f"{'failed_frac':<42} {res['failed'] / res['attempted']:>16.6g} ratio"
          f"  ({res['failed']} of {res['attempted']} jobs failed, warm-up included;"
          f" {len(timed)} timed untraced)")
    print("disclosure " + json.dumps(disc))
    out = dict(res, metrics={k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()})
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
