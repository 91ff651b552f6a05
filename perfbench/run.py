"""paradump_spark benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload dump_sync --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  It starts one Spark session on
``local[<cores>]`` with as many shuffle partitions as cores, makes the
workload's inputs from the seed, runs untimed warm-up iterations, then
runs iterations one after another until ``--seconds`` have passed.  The
last line of standard output is one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a separate traced run with
``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

GEN_REPEATS = 3  # set-up makes the inputs this many times; median reported

END_TO_END = {  # name -> unit
    "run_s": "s",
    "rows_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "spark_jobs": "count",
    "shuffle_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}

#: spans of the workloads' own calls (probes excluded)
SPANS = (
    "catalog", "sinks.files.sql", "sinks.files.csv", "dump.manifest",
    "sources.restore", "checksum", "diff", "quality", "dedup.exact",
    "dedup.minhash", "decontam", "packing", "shards.write", "shards.verify",
    "similarity", "semdedup", "multimodal",
)
#: span counters listed per span in BENCHMARK.json (the trace prints all)
SPAN_METRICS = {"jobs": "count", "exec_cpu_s": "s", "shuffle_write_mb": "MB",
                "driver_gap_s": "s", "catalyst_ms": "ms"}
LAYER_METRICS = {
    "session.start_s": "s", "session.warmup_s": "s", "gen_s": "s",
    "catalog.list_s": "s", "catalog.tables": "count",
    "sources.scan_s": "s", "sources.restore_s": "s",
    "render.s": "s", "render.rows": "count",
    "sinks.files.write_s": "s", "sinks.files.bytes": "B",
    "sinks.files.files": "count", "sinks.files.zstd_s": "s",
    "checksum.s": "s", "checksum.chunks": "count",
    "checksum.changed_chunk_ratio": "ratio",
    "diff.s": "s", "diff.rows_compared": "count", "diff.dml_rows": "count",
    "quality.s": "s", "quality.kept_ratio": "ratio",
    "dedup.minhash_s": "s", "dedup.candidates": "count",
    "dedup.verified_ratio": "ratio",
    "decontam.s": "s", "decontam.flagged_docs": "count",
    "packing.s": "s", "packing.fill_ratio": "ratio",
    "shards.write_s": "s", "shards.verify_s": "s", "shards.bytes": "B",
    "similarity.knn_s": "s", "semdedup.s": "s", "semdedup.removed_ratio": "ratio",
    "multimodal.image_dedup_s": "s",
    "all.spill_mb": "MB", "probe.wall_s": "s", "probe.jobs": "count",
    "trace.run_s": "s", "trace.untraced_run_s": "s", "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_METRICS)
    for span in SPANS:
        for field, unit in SPAN_METRICS.items():
            units[f"{span}.{field}"] = unit
    return units


def host_fit() -> dict:
    """Size the session to this host and export what the session and its
    Python workers read from the environment; call before pyspark or
    paradump_spark is imported."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024  # MemTotal
    heap_mb = min(2048, mem_mb // 4)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # Python workers import paradump_spark from any working directory
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        # the JVM spark-submit starts first to build the driver's command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    return {"cores": cores, "heap_mb": heap_mb, "host_mem_mb": mem_mb,
            "load_1m_before": os.getloadavg()[0]}


def start_session(cores: int, heap_mb: int):
    from paradump_spark.session import build_session

    # The heap is committed and touched at its full size on start, so the
    # run's resident memory does not depend on when the collector grew it;
    # no perf-data file, which the JVM would write under /tmp
    java_opts = (f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData "
                 f"-Xms{heap_mb}m -XX:+AlwaysPreTouch")
    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the JVM's Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


class Runner:
    """Runs iterations of one workload and keeps the operation counts."""

    def __init__(self, spark, workload, out: Path):
        self.spark, self.wl, self.out = spark, workload, out
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.last: dict | None = None  # result of the last good iteration

    def iterate(self, label: str, traced: bool = False):
        """One iteration plus its checks: (wall_s, tracer, result), or
        None when a call into the library raised."""
        from perfbench.tracing import Tracer

        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        tr = Tracer(self.spark, traced, f"perfbench:{label}")
        t0 = time.perf_counter()
        try:
            res = self.wl.run(tr, self.out)
        except Exception:  # noqa: BLE001 — count the failure, keep running
            self.failed += 1
            self.failures.append(f"{label}: call {tr.calls} raised\n"
                                 f"{traceback.format_exc()}")
            res = None
        wall = time.perf_counter() - t0
        self.attempted += tr.calls
        tr.close()
        if res is None:
            return None
        self._check(self.wl.check, label, res)
        self.last = res
        return wall, tr, res

    def final(self) -> None:
        if self.last is not None:
            self._check(self.wl.final_check, "final", self.last)

    def _check(self, fn, label: str, res: dict) -> None:
        try:
            checks = fn(self.out, res)
        except Exception:  # noqa: BLE001 — a check that raises has failed
            checks = [(f"raised\n{traceback.format_exc()}", False)]
        for name, ok in checks:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"{label}: check {name} failed")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def untraced_loop(runner: Runner, seconds: float, label: str, min_samples: int = 1):
    """Closed loop of untraced iterations for ``seconds`` and at least
    ``min_samples`` iterations: per-iteration (wall_s, jobs, shuffle_mb,
    out_bytes, steal_s)."""
    from perfbench.counters import group_stats
    from perfbench.workloads import tree_bytes

    samples = []
    failures = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(samples) < min_samples:
        steal0 = steal_s()
        it = runner.iterate(f"{label}{len(samples) + failures}")
        stolen = steal_s() - steal0
        if it is None:
            failures += 1
            if failures >= 3:
                break  # a failing workload: stop, the result reports it
            continue
        wall, tr, _ = it
        stats = group_stats(runner.spark, tr.group)
        samples.append((wall, stats.jobs, stats.shuffle_write_mb,
                        tree_bytes(runner.out)[0], stolen))
    return samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("paradump_spark/__init__.py", "tools/gen_sf.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a paradump_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    host = host_fit()

    from perfbench.counters import PeakRss
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    spark = start_session(host["cores"], host["heap_mb"])
    start_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, host["cores"])
        gen_times = []
        for r in range(GEN_REPEATS):
            inputs = WORK / "inputs"
            shutil.rmtree(inputs, ignore_errors=True)
            inputs.mkdir(parents=True)
            t = time.perf_counter()
            wl.generate(inputs, args.seed)
            gen_times.append(time.perf_counter() - t)
        gen_s = statistics.median(gen_times)
        runner = Runner(spark, wl, WORK / "out")
        t = time.perf_counter()
        for i in range(wl.WARMUP):
            runner.iterate(f"warmup{i}")
        warmup_s = time.perf_counter() - t
        setup_s = start_s + gen_s + warmup_s

        if args.trace:
            metrics = traced_run(runner, args.seconds)
            metrics.update({"session.start_s": start_s, "gen_s": gen_s,
                            "session.warmup_s": warmup_s})
            units = per_layer_units()
        else:
            with PeakRss() as rss:
                samples = untraced_loop(runner, args.seconds, "iter", wl.SAMPLES)
            metrics = end_to_end(wl, samples, setup_s, rss.peak_mb) if samples else {}
            units = END_TO_END
        runner.final()
    finally:
        stop_session(spark)
    if runner.last is None:  # no iteration completed: nothing to report
        print("\n".join(runner.failures), file=sys.stderr)
        return 1
    host["load_1m_after"] = os.getloadavg()[0]

    report(args, host, wl, runner, metrics, units)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                    for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


def end_to_end(wl, samples, setup_s: float, peak_mb: float) -> dict:
    walls = [s[0] for s in samples]
    run_s = statistics.median(walls)
    return {
        "run_s": run_s,
        "rows_per_s": wl.in_rows / run_s,
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "spark_jobs": statistics.median(s[1] for s in samples),
        "shuffle_mb": statistics.median(s[2] for s in samples),
        "out_bytes_per_in_byte": statistics.median(s[3] for s in samples) / wl.in_bytes,
        "_samples": samples,
    }


def traced_run(runner: Runner, seconds: float) -> dict:
    """A third of ``seconds`` of untraced iterations, then traced ones;
    per-layer metrics are medians over the traced iterations."""
    from perfbench.tracing import PROBE, SPAN_FIELDS

    untraced = untraced_loop(runner, seconds / 3, "base")
    per_iter: list[dict[str, float]] = []
    walls = []
    spans: set[str] = set()
    deadline = time.perf_counter() + seconds * 2 / 3
    while time.perf_counter() < deadline or not per_iter:
        it = runner.iterate(f"traced{len(per_iter)}", traced=True)
        if it is None:
            break
        wall, tr, res = it
        layers = tr.by_layer()
        probes = [v for k, v in layers.items() if k.startswith(PROBE)]
        probe_wall = sum(p["wall_s"] for p in probes)
        walls.append(wall - probe_wall)
        m = {f"{name}.{f}": v[f] for name, v in layers.items() for f in SPAN_FIELDS}
        m["all.spill_mb"] = sum(v["spill_mb"] for k, v in layers.items()
                                if not k.startswith(PROBE))
        m["probe.wall_s"] = probe_wall
        m["probe.jobs"] = sum(p["jobs"] for p in probes)
        m.update(runner.wl.layer_metrics(tr, runner.out, res, layers))
        per_iter.append(m)
        spans.update(layers)
    keys = {k for m in per_iter for k in m}
    out = {k: statistics.median(m.get(k, 0.0) for m in per_iter) for k in keys}
    base = statistics.median(s[0] for s in untraced) if untraced else 0.0
    out["trace.run_s"] = statistics.median(walls) if walls else 0.0
    out["trace.untraced_run_s"] = base
    out["trace.overhead_s"] = out["trace.run_s"] - base
    out["_spans"] = sorted(spans)
    return out


def report(args, host, wl, runner, metrics, units) -> None:
    """Human-readable lines ahead of the JSON result line."""
    p = print
    p(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
      f"trace {args.trace}")
    p(f"host: {host['cores']} cores, driver heap {host['heap_mb']} MB of "
      f"{host['host_mem_mb']} MB, load_1m {host['load_1m_before']:.2f} before "
      f"{host['load_1m_after']:.2f} after")
    p("inputs: " + ", ".join(f"{k}={v}" for k, v in wl.rows.items())
      + f"  ({wl.in_rows} rows/iteration, {wl.in_bytes} parquet bytes)")
    if "_samples" in metrics:
        p(f"samples: {len(metrics['_samples'])} iterations")
        for wall, jobs, shuffle, out_bytes, stolen in metrics["_samples"]:
            p(f"  wall {wall:.3f} s, {jobs} jobs, shuffle {shuffle:.6f} MB, "
              f"{out_bytes} output bytes, {stolen:.2f} CPU-s stolen by the host")
    p(f"operations: attempted {runner.attempted}, failed {runner.failed}, "
      f"failed_ratio {runner.failed / runner.attempted:g}")
    for f in runner.failures:
        print(f, file=sys.stderr)
    if args.trace:
        from perfbench.tracing import SPAN_FIELDS

        p("span".ljust(18) + "".join(f.rjust(17) for f in SPAN_FIELDS))
        for s in metrics["_spans"]:
            p(s.ljust(18) + "".join(
                f"{metrics.get(f'{s}.{f}', 0.0):17.3f}" for f in SPAN_FIELDS))
    for k, u in units.items():
        v = metrics.get(k)
        if v is not None:
            p(f"  {k:36s} {v:14.6f} {u}")


if __name__ == "__main__":
    sys.exit(main())
