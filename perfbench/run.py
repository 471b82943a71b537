"""Benchmark entry point.

    python3 perfbench/run.py --workload join_skewed_dense --seed 1 --seconds 15 --trace 0

Runs one workload at ``local[<cores of this host>]`` from this one
driver process, as a closed loop with one client: each run starts when
the previous one has ended.  With ``--trace 0`` it prints the
end-to-end metrics; with ``--trace 1`` it also makes one traced run and
prints the per-layer metrics.  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything it writes (input cache, Spark scratch, traces) goes under
``.perfbench/`` in the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
DRIVER_MEM = "2g"

# name, unit -- in BENCHMARK.json order
END_TO_END = [("docs_per_s", "docs/s"), ("run_s_p50", "s"), ("cpu_s", "s"),
              ("peak_rss_mb", "MiB"), ("setup_s", "s")]
PER_LAYER = [
    ("scan.s", "s"), ("scan.input_bytes", "bytes"), ("cell_key.s", "s"),
    ("join.phase1_s", "s"), ("join.exact_s", "s"), ("edges.build_s", "s"),
    ("join.cell_candidates", "count"), ("join.envelope_candidates", "count"),
    ("join.matches", "count"), ("join.envelope_yield", "ratio"),
    ("join.exact_yield", "ratio"), ("join.edges_folded", "count"),
    ("salt.factor", "count"), ("salt.choose_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("task.skew", "ratio"),
    ("lineage.commit_s", "s"), ("lineage.spark_jobs", "count"),
    ("lineage.units", "count"), ("lineage.bytes_written", "bytes"),
    ("span_check.s", "s"),
    ("raster.rasterize_s", "s"), ("raster.pyramid_s", "s"),
    ("raster.tiles", "count"), ("focal.s", "s"),
    ("py.run_s", "s"), ("py.start_s", "s"), ("py.init_s", "s"),
    ("py.bytes_sent", "bytes"), ("py.bytes_returned", "bytes"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.spill_bytes", "bytes"), ("trace.overhead_s", "s"),
]
# span name -> per-layer metric carrying its summed self time
SPAN_METRICS = {
    "scan": "scan.s", "scan.dem": "scan.s", "cell_key": "cell_key.s", "join.phase1": "join.phase1_s",
    "join.exact": "join.exact_s", "edges.build": "edges.build_s",
    "salt.choose": "salt.choose_s", "lineage.commit": "lineage.commit_s",
    "span_check": "span_check.s", "raster.rasterize": "raster.rasterize_s",
    "raster.pyramid": "raster.pyramid_s", "focal": "focal.s",
}
ENGINE_METRICS = ("shuffle.write_bytes", "shuffle.read_bytes", "task.skew",
                  "py.run_s", "py.start_s", "py.init_s", "py.bytes_sent",
                  "py.bytes_returned", "spark.jobs", "spark.stages",
                  "spark.tasks", "spark.executor_run_s",
                  "spark.executor_cpu_s", "spark.gc_s", "spark.spill_bytes")


WORKLOADS = ("join_skewed_dense", "tile_pipeline")


def make_workload(name):
    from perfbench import workloads as w

    if name == "join_skewed_dense":
        return w.JoinWorkload(100_000, 256, {"broadcast": False, "salt": "auto"})
    return w.TilePipeline(100_000, os.path.join(WORK, "tmp", "tile_pipeline"),
                          w.RasterFocal(16))


def _spark_env() -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and let the Python workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    # a fixed-size heap: no heap-growth warm-up, and a steadier peak RSS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={tmp}/warehouse"),
        "--driver-java-options", shlex.quote(java_opts), "pyspark-shell"])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from perfbench import proc

    me = os.getpid()
    pids = [p for p in proc.tree_pids(me) if p != me]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    proc.wait_ended(pids, timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from gdal_spark.session import get_spark  # the program under test
    from perfbench import inputs, proc
    from perfbench.spark_status import StatusReader
    from perfbench.trace import Tracer

    _spark_env()
    wl = make_workload(args.workload)
    probe_before = proc.cpu_probe()
    t0 = time.perf_counter()
    n_docs = wl.prepare(inputs.Cache(os.path.join(WORK, "cache")), args.seed)
    prepare_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    host = proc.host_info(spark)

    attempted = failed = 0

    def attempt(fn):
        """One gated run; returns (seconds, cpu seconds) or None."""
        nonlocal attempted, failed
        attempted += 1
        cpu0, t = proc.tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            result = fn()
            dt = time.perf_counter() - t
            cpu = proc.tree_cpu_s(os.getpid()) - cpu0
            if wl.check(spark, result):
                return dt, cpu
            print(f"# gate: {args.workload} output differs from the golden",
                  file=sys.stderr)
        except Exception:  # a failed run is counted, the loop goes on
            traceback.print_exc()
        failed += 1
        return None

    try:
        setup_times, state = [], None
        tracer = Tracer(spark, f"{args.workload}-s{args.seed}",
                        StatusReader(spark)) if args.trace else None
        for rep in range(SETUP_REPS):
            if state is not None:
                wl.teardown(state)
            t = time.perf_counter()
            state = wl.setup(spark, tracer if rep == SETUP_REPS - 1 else None)
            setup_times.append(time.perf_counter() - t)

        # warm-up: JIT, codegen and Python workers; not timed, not counted
        t = time.perf_counter()
        wl.warmup(spark, state)
        warmup_s = time.perf_counter() - t
        samples, steals = [], []
        with proc.RssSampler(os.getpid()) as rss:
            t_end = time.perf_counter() + args.seconds
            while len(samples) < wl.min_samples or (
                    time.perf_counter() + statistics.median(s[0] for s in samples)
                    <= t_end):  # start a run only if a median one ends in time
                st0 = proc.steal_s()
                got = attempt(lambda: wl.run(spark, state))
                steals.append(proc.steal_s() - st0)
                if got is None:
                    break  # reported as failed; later runs would repeat it
                samples.append(got)
        run_s = statistics.median(s[0] for s in samples) if samples else 0.0
        e2e = {
            "docs_per_s": n_docs / run_s if samples else 0.0,
            "run_s_p50": run_s,
            "cpu_s": statistics.median(s[1] for s in samples) if samples else 0.0,
            "peak_rss_mb": rss.peak / (1 << 20),
            "setup_s": session_s + statistics.median(setup_times),
        }
        if args.trace:
            traced = {}

            def traced_run():
                t = time.perf_counter()
                result, traced["layer"], traced["real"] = wl.trace(tracer, spark, state)
                traced["wall"] = time.perf_counter() - t
                return result

            attempt(traced_run)
            layer = per_layer(tracer, traced, traced.get("wall", 0.0) - run_s)
        wl.teardown(state)
        probe_after = proc.cpu_probe()
    finally:
        _stop(spark)

    info = {"workload": args.workload, "seed": args.seed, "docs": n_docs,
            "samples": len(samples),
            "run_s": [round(s[0], 4) for s in samples],
            "setup_reps_s": [round(s, 4) for s in setup_times],
            "prepare_s": round(prepare_s, 4), "session_s": round(session_s, 4),
            "warmup_s": round(warmup_s, 4),
            "run_steal_s": [round(s, 2) for s in steals],
            "cpu_probe_s": [round(probe_before, 4), round(probe_after, 4)],
            **host}
    print("# " + json.dumps(info))
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{tracer.run_id}.json"),
                    {"info": info, "per_layer": layer})
        top = max((m for m in SPAN_METRICS.values() if m != "edges.build_s"),
                  key=lambda m: layer[m])
        print(f"# largest self time: {top} = {layer[top]:.3f} s")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    for k, m in metrics.items():
        print(f"# {k:28s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def per_layer(tracer, traced, overhead_s) -> dict:
    """Per-layer metrics of one traced run (0 for layers the workload
    does not touch)."""
    out = {k: 0.0 for k, _u in PER_LAYER}
    if "real" not in traced:  # the traced run raised
        return out
    tracer.read_spark()
    for name, t in tracer.self_by_name().items():
        out[SPAN_METRICS[name]] += t
    engine = tracer.sum_spark(traced["real"])
    for k in ENGINE_METRICS:
        out[k] = float(engine.get(k, 0.0))
    scans = [s for s in tracer.spans if s["name"] in ("scan", "scan.dem")]
    out["scan.input_bytes"] = float(tracer.sum_spark(scans).get("scan.input_bytes", 0))
    commits = [s for s in tracer.spans if s["name"] == "lineage.commit"]
    out["lineage.spark_jobs"] = float(tracer.sum_spark(commits).get("spark.jobs", 0))
    out.update({k: float(v) for k, v in traced["layer"].items()})
    if out["join.cell_candidates"]:
        out["join.envelope_yield"] = out["join.envelope_candidates"] / out["join.cell_candidates"]
    if out["join.envelope_candidates"]:
        out["join.exact_yield"] = out["join.matches"] / out["join.envelope_candidates"]
    out["trace.overhead_s"] = overhead_s
    return out


if __name__ == "__main__":
    sys.exit(main())
