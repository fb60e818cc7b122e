"""Benchmark entry point.

    python3 perfbench/run.py --workload avro_fleet --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates (or reuses) the seeded inputs
under ``.perfbench/``, sets up once (cold JVM and session, op registry,
Avro data source, one warm-up pass), then runs the workload in a closed
loop until ``--seconds`` of timed work is done, checking every output.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds a traced
pass, the in-process layer probes and a self-time table, writes the
spans to ``.perfbench/trace/``, and prints the per-layer metrics. The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "s3_avro_repair_spark"
# A traced run compares traced and untraced passes op by op, so it takes
# a median of several pairs.
TRACE_MIN_PASSES = 3


def _environment(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and
    let the Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # Read by every JVM spark-submit starts, the launcher included;
    # without -XX:-UsePerfData each would write /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


class Context:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.work = work
        self.cache = os.path.join(work, "cache")
        self.nproc = os.cpu_count() or 1
        self.spark = None
        self.fmt = None
        self.registry_ops = None
        self.pkg = None
        self._groups = 0

    def new_group(self, prefix: str) -> str:
        """A job group name used once, so counters never mix passes."""
        self._groups += 1
        return f"{prefix}#{self._groups}"

    def setup(self, workload) -> dict:
        """The set-up: session, op registry, Avro data source, warm-up pass.

        It runs once per process. A second set-up in the same process
        would reuse the JVM, the data source registry and the imported
        modules, so it would not measure what a user waits for."""
        import spans

        t = {}
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PACKAGE}.session")
        self.spark = session.get_session("perfbench", master=f"local[{self.nproc}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        registry = importlib.import_module(f"{PACKAGE}.plans.registry")
        self.registry_ops = registry.load_all()
        t2 = time.perf_counter()
        self.pkg = types.SimpleNamespace(**{
            m.rsplit(".", 1)[-1]: importlib.import_module(f"{PACKAGE}.{m}")
            for m in ("cli", "avro_codec", "fsio", "tables", "sources.avro_datasource")
        })
        self.fmt = self.pkg.avro_datasource.mount(self.spark)
        t3 = time.perf_counter()
        # Warm-up: one untraced pass over the workload's own inputs, so
        # the timed passes run warm.
        warm = workload.iterate(spans.Tracer(False))
        t4 = time.perf_counter()
        workload.check(warm)
        t["session.get_session_s"] = t1 - t0
        t["registry.load_all_s"] = t2 - t1
        t["avro_datasource.mount_s"] = t3 - t2
        t["setup.warmup_s"] = t4 - t3
        t["setup_s"] = t4 - t0
        return t

    def shutdown(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        import spans

        # Listed before the JVM exits: its children are re-parented then.
        started = spans.descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        left = [p for p in started if not _ended(p)]
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 30
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = [p for p in left if not _ended(p)]
        self.spark = None


def _ended(pid: int) -> bool:
    try:
        done, _status = os.waitpid(pid, os.WNOHANG)  # reap our own children
        return done == pid
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _machine(ctx) -> str:
    import platform

    import pyarrow
    import pyspark

    return (f"machine: nproc {ctx.nproc}, cores used {ctx.nproc} (local[{ctx.nproc}]), "
            f"python {platform.python_version()}, pyspark {pyspark.__version__}, "
            f"pyarrow {pyarrow.__version__}")


def _median(xs):
    xs = [x for x in xs if x is not None and not (isinstance(x, float) and math.isnan(x))]
    return statistics.median(xs) if xs else 0.0


def _loop(wl, tracers, seconds: float, memory, min_passes: int) -> list[list[dict]]:
    """Closed loop: one pass per tracer in turn, repeated until the first
    tracer's passes add up to ``seconds`` of timed work, and at least
    ``min_passes`` times. Interleaving an untraced and a traced pass
    keeps both equally warm."""
    results: list[list[dict]] = [[] for _ in tracers]
    spent = 0.0
    while spent < seconds or len(results[0]) < min_passes:
        for tracer, out in zip(tracers, results):
            with tracer.span("iteration"):
                r = wl.iterate(tracer)
            memory.sample()
            wl.check(r)
            out.append(r)
        wall = results[0][-1]["wall_s"]
        spent += wall if math.isfinite(wall) else seconds
    return results


def _self_time_table(tracer, iterations: int) -> list[str]:
    import spans

    per_layer: dict[str, float] = {}
    for name, s in spans.self_times(tracer.spans).items():
        layer = spans.layer_of(name)
        per_layer[layer] = per_layer.get(layer, 0.0) + s
    total = sum(per_layer.values()) or 1.0
    lines = [f"self time per traced iteration ({iterations} iterations):"]
    for layer, s in sorted(per_layer.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:<18} {s / iterations:9.4f} s  {100 * s / total:5.1f}%")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    _environment(work)
    ctx = Context(args, work)
    wl = workloads.WORKLOADS[args.workload](ctx)
    memory = spans.WorkerMemory()
    report: list[str] = []
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        setup = ctx.setup(wl)
        tracer = spans.Tracer(bool(args.trace))
        passes = [spans.Tracer(False)] + ([tracer] if args.trace else [])
        untraced, *traced = _loop(wl, passes, args.seconds, memory,
                                  TRACE_MIN_PASSES if args.trace else 1)
        report.append(f"inputs: seed {args.seed}, {wl.input_bytes / 1e6:.3f} MB, "
                      f"prepared in {prepare_s:.2f} s")
        report.append(_machine(ctx))
        e2e = {
            "setup_s": (setup["setup_s"], "s"),
            "wall_s": (_median([r["wall_s"] for r in untraced]), "s"),
        }
        wall = e2e["wall_s"][0]  # 0 only when every pass failed
        e2e["input_mb_per_s"] = (wl.input_bytes / 1e6 / wall if wall else 0.0, "MB/s")
        report.append("wall_s samples: " + " ".join(f"{r['wall_s']:.3f}" for r in untraced))
        extra = {
            "iterations": (len(untraced), "count"),
            "failed_frac": (wl.failed / max(wl.attempted, 1), "ratio"),
            "worker_peak_rss_mb": (memory.peak_mb, "MB"),
        }
        for key in ("repair_mb_per_s", "write_mb_per_s", "scan_mb_per_s"):
            if key in untraced[0]:
                extra[key] = (_median([r[key] for r in untraced]), "MB/s")
        metrics = e2e
        if args.trace:
            traced = traced[0]
            probes = wl.probe()
            tracer.write_jsonl(os.path.join(
                work, "trace", f"{args.workload}-s{args.seed}-{tracer.run_id}.jsonl"))
            report += _self_time_table(tracer, len(traced))
            metrics = per_layer_metrics(wl, setup, untraced, traced, probes, e2e, extra)
            for name in workloads.MIX if args.workload == "query_mix" else ():
                untraced_s = metrics[f"op.{name}.wall_s"][0]
                traced_s = metrics[f"op.{name}.traced_s"][0]
                if untraced_s:  # 0 when every pass of the op raised
                    report.append(f"op {name}: untraced {untraced_s:.4f} s, construct+plan+exec "
                                  f"{traced_s:.4f} s ({traced_s / untraced_s - 1:+.1%})")
        for name, (value, unit) in {**e2e, **extra}.items():
            report.append(f"{name:<24} {value:12.4f} {unit}")
        for p in wl.problems:
            report.append(f"FAILED: {p}")
    finally:
        ctx.shutdown()
    print("\n".join(report))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer_metrics(wl, setup, untraced, traced, probes, e2e, extra) -> dict:
    import workloads

    m: dict[str, tuple[float, str]] = {}
    for key in ("session.get_session_s", "registry.load_all_s",
                "avro_datasource.mount_s", "setup.warmup_s"):
        m[key] = (setup[key], "s")
    for key, unit in (("tables.table_s", "s"), ("operators.construct_s", "s"),
                      ("operators.construct_jobs", "count"), ("catalyst.plan_s", "s")):
        m[key] = (_median([r.get(key, 0.0) for r in traced]), unit)
    units = {"exec_s": "s", "run_s": "s", "cpu_s": "s", "gc_s": "s",
             "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
             "tasks": "count", "task_skew": "ratio"}
    for key, unit in units.items():
        m[f"stages.{key}"] = (_median([r["counters"][key] for r in traced]), unit)
    python_run = _median([r["counters"]["python_run_s"] for r in traced])
    codec_s = probes.get("boundary.codec_s", 0.0)
    m["boundary.python_run_s"] = (python_run, "s")
    m["boundary.codec_s"] = (codec_s, "s")
    m["boundary.overhead_s"] = (python_run - codec_s if python_run else 0.0, "s")
    for c in ("null", "deflate", "snappy"):
        for kind in ("salvage", "read"):
            key = f"avro_codec.{kind}_mb_per_s_core.{c}"
            m[key] = (probes.get(key, 0.0), "MB/s")
    m["avro_codec.write_mb_per_s_core"] = (probes.get("avro_codec.write_mb_per_s_core", 0.0), "MB/s")
    counts = wl.counts(untraced[-1])
    m["avro_codec.blocks_lost"] = (counts.get("avro_codec.blocks_lost", 0), "count")
    m["avro_codec.records_salvaged"] = (counts.get("avro_codec.records_salvaged", 0), "count")
    m["avro_codec.salvage_yield"] = (counts.get("avro_codec.salvage_yield", 0.0), "ratio")
    m["avro_datasource.partitions"] = (_median([r.get("avro_datasource.partitions", 0) for r in traced]), "count")
    m["avro_datasource.read_mb_per_s_core"] = (probes.get("avro_datasource.read_mb_per_s_core", 0.0), "MB/s")
    m["fsio.write_s"] = (probes.get("fsio.write_s", 0.0), "s")
    m["fsio.write_mb"] = (probes.get("fsio.write_mb", 0.0), "MB")
    m["cli.jobs"] = (_median([r.get("cli.jobs", 0) for r in traced]), "count")
    m["cli.scan_passes"] = (_median([r.get("cli.scan_passes", 0.0) for r in traced]), "ratio")
    for name in workloads.MIX:
        m[f"op.{name}.wall_s"] = (_median([r["op"][name] for r in untraced if "op" in r]), "s")
        m[f"op.{name}.traced_s"] = (_median([r["op"][name] for r in traced if "op" in r]), "s")
    for key in ("repair_mb_per_s", "write_mb_per_s", "scan_mb_per_s"):
        m[key] = (extra[key][0] if key in extra else 0.0, "MB/s")
    m["failed_frac"] = extra["failed_frac"]
    m["worker_peak_rss_mb"] = extra["worker_peak_rss_mb"]
    traced_wall = _median([r["wall_s"] for r in traced])
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - e2e["wall_s"][0], "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
