"""glcmstream benchmark: one workload per invocation, end to end.

    python3 perfbench/run.py --workload backlog_drain --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. Inputs are generated from --seed (cached
under perfbench/.cache). The run refuses to start while another JVM,
Spark or pytest process is running. Spark starts at the engine's
default master (local[*], one slot per core); only the deployment
memory sizes GLCMSTREAM_DRIVER_MEM and GLCMSTREAM_DIRECT_MEM are fitted
to the host, every engine setting stays at the program's defaults.

--trace 0 prints the end-to-end metrics; --trace 1 repeats the same run
with spans kept in memory, adds isolated kernel / fused / plan runs over
the workload's pages, writes the spans to perfbench/.results and prints
each layer's self time. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src")

LAYERS = ("session", "kernel", "fused", "plan", "stream", "state", "sink",
          "bench")


def declared_metrics() -> tuple[dict, dict]:
    """name -> unit of the end-to-end and per-layer metrics BENCHMARK.json
    declares; a run emits exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


class Ctx:
    def __init__(self, args, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.cores = cores
        self.cache_dir = os.path.join(HERE, ".cache")
        # one run at a time (the contention guard refuses a second JVM),
        # so the work dir is cleared before and after each run
        self.work_dir = os.path.join(HERE, ".work")
        self.results_dir = os.path.join(HERE, ".results")
        self.spark = None
        self.log = None


def host_memory_env() -> None:
    """Size the Spark JVM heap and direct-memory cap to the host (the
    program defaults of 24g assume a large host)."""
    import host
    gib = max(1, min(24, host.mem_total_bytes() // 2**30 // 4))
    os.environ.setdefault("GLCMSTREAM_DRIVER_MEM", f"{gib}g")
    os.environ.setdefault("GLCMSTREAM_DIRECT_MEM", f"{gib}g")


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    import host
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()      # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def e2e_metrics(wl, setup_s: float):
    vals, attempted, failed = wl.end_to_end()
    from workloads import median, tail
    fresh = vals.pop("fresh")
    t, pct, n = tail(fresh)
    out = {"docs_per_s": vals["docs_per_s"],
           "freshness_p50_s": median(fresh),
           "freshness_tail_s": t,
           "setup_s": setup_s}
    return out, attempted, failed, (pct, n)


def trace_report(tracer, root: int, measure: int, units: list[int],
                 unit_name: str) -> dict:
    """Print per-layer self times and the additivity check; return the
    self_s.* metrics."""
    lines = []
    for uid in units:
        s = tracer.spans[uid]
        wall = s.end - s.start
        parts = tracer.layer_self_times(uid)
        total = sum(parts.values())
        lines.append(f"  {unit_name} {len(lines)}: wall {wall:.3f}s "
                     f"sum(self) {total:.3f}s "
                     f"({100 * total / wall if wall else 100:.1f}%) "
                     + " ".join(f"{k}={v:.3f}" for k, v in
                                sorted(parts.items(), key=lambda kv: -kv[1])))
    m = tracer.layer_self_times(measure)
    whole = tracer.layer_self_times(root)
    print("per-layer self time, measured part (s):")
    for k, v in sorted(m.items(), key=lambda kv: -kv[1]):
        print(f"  {k:8s} {v:9.3f}")
    big = max(m.items(), key=lambda kv: kv[1])[0] if m else "-"
    print(f"largest layer: {big}")
    print(f"per-{unit_name} additivity (self times vs wall):")
    print("\n".join(lines))
    return {f"self_s.{k}": whole.get(k, 0.0) for k in LAYERS}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(SRC, "glcmstream", "__init__.py")):
        print(f"perfbench: program sources not found under {SRC}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, SRC)
    os.environ["PYTHONPATH"] = SRC + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    busy = host.wait_quiet(30.0)
    if busy:
        print("perfbench: refusing to run while other JVM/Spark/pytest "
              "processes run:\n  " + "\n  ".join(busy), file=sys.stderr)
        return 3
    load0 = host.loadavg()
    ticks0, t0 = host.cpu_ticks(), time.monotonic()

    host_memory_env()
    # a console setting, not an engine one: keeps stderr readable
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS",
                          "--conf spark.ui.showConsoleProgress=false "
                          "pyspark-shell")
    from spans import Tracer
    import layers
    from progress import ProgressLog, epoch_start_s
    from glcmstream import session

    ctx = Ctx(args, os.cpu_count() or 1)
    tracer = Tracer(bool(args.trace))
    os.makedirs(ctx.cache_dir, exist_ok=True)
    shutil.rmtree(ctx.work_dir, ignore_errors=True)
    # every temporary file of the run (the py-files zip, Spark's local
    # dirs, the JVM's tmpdir) stays in the run's work dir, removed at exit
    tmp = os.path.join(ctx.work_dir, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    wl = workloads.WORKLOADS[args.workload](ctx)
    t = time.time()
    wl.inputs()
    print(f"inputs: {time.time() - t:.2f}s", file=sys.stderr)
    # host steal before the run, over input generation and at least 1 s
    time.sleep(max(0.0, 1.0 - (time.monotonic() - t0)))
    steal0 = host.steal_pct(ticks0, host.cpu_ticks())
    print(f"host: loadavg {load0:.2f}, steal {steal0:.1f}% before the run",
          file=sys.stderr)

    spark = None
    try:
        with tracer.span("bench.run") as root:
            t_setup = time.time()
            with tracer.span("session.start", root):
                spark = session.get_spark()
                spark.sparkContext.setLogLevel("ERROR")
                ctx.spark = spark
                ctx.log = ProgressLog()
                spark.streams.addListener(ctx.log)
            t_warm = time.time()
            with tracer.span("session.warm", root):
                wl.warm()
            t_measure = time.time()
            setup_s = t_measure - t_setup
            print(f"setup: session {t_warm - t_setup:.2f}s, warm-up "
                  f"{t_measure - t_warm:.2f}s", file=sys.stderr)
            ctx.cores = spark.sparkContext.defaultParallelism

            rss = host.RssSampler()
            ticks_m0 = host.cpu_ticks()
            rss.start()
            with tracer.span("bench.measure", root) as measure:
                wl.measure(args.seconds)
            peak_mb = rss.stop()
            steal = host.steal_pct(ticks_m0, host.cpu_ticks())
            measure_wall = time.time() - t_measure
            print(f"measured part: {measure_wall:.2f}s; epochs (batch, rows, "
                  "trigger ms, addBatch ms): "
                  + " ".join(f"({p['batchId']},{p['numInputRows']},"
                             f"{p['durationMs']['triggerExecution']},"
                             f"{p['durationMs'].get('addBatch', 0)})"
                             for p in ctx.log.progress
                             if epoch_start_s(p) >= t_measure),
                  file=sys.stderr)

            t = time.time()
            with tracer.span("bench.check", root):
                try:
                    err = wl.check()
                except Exception:
                    err = traceback.format_exc(limit=3)
            print(f"reference check: {time.time() - t:.2f}s", file=sys.stderr)
            e2e, attempted, failed, (tail_pct, n_fresh) = e2e_metrics(
                wl, setup_s)
            if err:
                print(f"REFERENCE MISMATCH: {err}", file=sys.stderr)
                failed = attempted

            per_layer = {}
            if args.trace:
                per_layer.update(wl.layer_metrics())
                per_layer.update(layers.kernel_1core(tracer, root,
                                                     wl.files))
                kps = per_layer["kernel.docs_per_s_1core"]
                per_layer.update(layers.fused_stage(
                    tracer, root, spark, wl.pages, wl.docs, ctx.cores, kps))
                per_layer.update(layers.plan_stage(
                    tracer, root, spark, wl.pages, wl.docs, ctx.cores, kps))
        if args.trace:
            units = wl.trace(tracer, measure, per_layer)
            per_layer.update(trace_report(tracer, root, measure, units,
                                          wl.unit_name))
            per_layer.update({
                "session.start_s": t_warm - t_setup,
                "session.warm_s": t_measure - t_warm,
                "bench.steal_pct": steal,
                "bench.peak_rss_mb": peak_mb,
                "bench.tracing_overhead_pct":
                    100.0 * tracer.cost_s / measure_wall,
            })
    finally:
        if spark is not None:
            t = time.time()
            stop_spark(spark)
            print(f"teardown: {time.time() - t:.2f}s", file=sys.stderr)
        shutil.rmtree(ctx.work_dir, ignore_errors=True)

    os.makedirs(ctx.results_dir, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}"
    if args.trace:
        tracer.write(os.path.join(ctx.results_dir, f"{tag}.spans.jsonl"))
        prev = os.path.join(ctx.results_dir, f"{tag}.json")
        if os.path.exists(prev):
            with open(prev) as f:
                base = json.load(f)
            print("traced vs the untraced run of this seed (tracing "
                  "overhead plus run-to-run noise): "
                  + ", ".join(f"{k} {100 * (e2e[k] / base[k] - 1):+.1f}%"
                              for k in ("docs_per_s", "freshness_p50_s")
                              if base.get(k)))
        print(f"tracing overhead (span recording / measured wall): "
              f"{per_layer['bench.tracing_overhead_pct']:.3f}%")
    else:
        with open(os.path.join(ctx.results_dir, f"{tag}.json"), "w") as f:
            json.dump(e2e, f)

    print(f"workload {args.workload} seed {args.seed}: {ctx.cores} cores; "
          f"before the run loadavg {load0:.2f}, steal {steal0:.1f}%; "
          f"steal {steal:.1f}% while measured")
    e2e_units, layer_units = declared_metrics()
    emitted = per_layer if args.trace else e2e
    declared = layer_units if args.trace else e2e_units
    if set(emitted) != set(declared):
        raise RuntimeError(f"emitted metrics differ from BENCHMARK.json: "
                           f"{sorted(set(emitted) ^ set(declared))}")
    rows = [(k, v, e2e_units[k]) for k, v in e2e.items()]
    rows += [("peak_rss_mb", peak_mb, "MB"), ("ops", attempted, "count"),
             ("ops_failed", failed, "count")]
    for k, v, u in rows:
        extra = (f"  (p{tail_pct:.1f} of {n_fresh})"
                 if k == "freshness_tail_s" else "")
        print(f"  {k:20s} {v:14.4f} {u}{extra}")
    if args.trace:
        for k, v in sorted(per_layer.items()):
            print(f"  {k:34s} {v:16.4f}")
    metrics = {k: {"value": v, "unit": declared[k]}
               for k, v in emitted.items()}
    print(json.dumps({"correct": err is None, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
