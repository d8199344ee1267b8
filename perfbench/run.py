"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, starts one Spark session
(``local[nproc]``, one client, closed loop), runs the workload's
warm-up (part of the set-up time), measures
``ceil(seconds / CYCLE_S)`` whole cycles and the workload's ``finish``,
checks the outputs once, and prints one JSON object as the last line
of stdout. ``--trace 0``
reports the end-to-end metrics (timers and process CPU clocks only);
``--trace 1`` reports the per-layer metrics from spans and Spark's own
stores, and writes the spans to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: Percentile ladder for tails: the highest with at least ten samples
#: beyond it is reported.
TAIL_LADDER = (99, 95, 90, 75, 50)

#: (name, unit) of every per-layer metric, emitted on every workload
#: (0 where the workload does not exercise the layer).
PER_LAYER: tuple[tuple[str, str], ...] = (
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("session.warmup_s", "s"),
    ("queries.build_s", "s"),
    ("queries.plan_s", "s"),
    ("queries.exec_s", "s"),
    ("queries.driver_s", "s"),
    ("queries.jobs", "count"),
    ("queries.stages", "count"),
    ("queries.stages_skipped", "count"),
    ("queries.tasks", "count"),
    ("queries.cpu_ms", "ms"),
    ("queries.run_ms", "ms"),
    ("queries.slot_busy_frac", "ratio"),
    ("queries.shuffle_read_bytes", "bytes"),
    ("queries.shuffle_write_bytes", "bytes"),
    ("queries.spill_bytes", "bytes"),
    ("queries.exchanges", "count"),
    ("queries.broadcast_joins", "count"),
    ("queries.smj", "count"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_returned", "bytes"),
    ("python.worker_start_ms", "ms"),
    ("python.worker_init_ms", "ms"),
    ("python.run_ms", "ms"),
    ("sources.delays_ingest_s", "s"),
    ("sources.weather_ingest_s", "s"),
    ("sources.gtfs_ingest_s", "s"),
    ("sources.noop_s", "s"),
    ("sources.jobs_per_ingest", "count"),
    ("sources.cpu_ms_per_ingest", "ms"),
    ("sources.driver_s_per_ingest", "s"),
    ("sources.files_written", "count"),
    ("sources.bytes_written", "bytes"),
    ("sources.write_amp", "ratio"),
    ("sources.manifest_files", "count"),
    ("sources.manifest_rows", "count"),
    ("warsaw.query_s", "s"),
    ("warsaw.jobs", "count"),
    ("warsaw.cpu_ms", "ms"),
    ("warsaw.files_read", "count"),
    ("streaming.init_s", "s"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.offset_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.jobs_per_batch", "count"),
    ("streaming.stages_per_batch", "count"),
    ("streaming.cpu_ms_per_batch", "ms"),
    ("streaming.shuffle_bytes_per_batch", "bytes"),
    ("streaming.finalize_jobs", "count"),
    ("streaming.finalize_stages", "count"),
    ("streaming.finalize_stages_skipped", "count"),
    ("streaming.finalize_cpu_ms", "ms"),
    ("snapshots.state_bytes", "bytes"),
    ("snapshots.live_files", "count"),
    ("snapshots.manifests", "count"),
    ("snapshots.catalog_versions", "count"),
    ("snapshots.compactions", "count"),
    ("proc.tmp_bytes_left", "bytes"),
    ("proc.jit_cpu_s", "s"),
    ("proc.heap_live_mb", "MB"),
    ("trace.overhead_s", "s"),
)

END_TO_END: tuple[tuple[str, str], ...] = (
    ("setup_s", "s"),
    ("measure_cpu_s", "s"),
    ("op_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)

#: The JVM's heap, fixed and pre-touched, so its resident size is a
#: constant that ``peak_rss_mb`` leaves out (see README).
HEAP_MB = 3072


def tail(values: list[float]) -> tuple[float, str]:
    """Highest ladder percentile with at least ten samples beyond it;
    the maximum when there are too few samples for any."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(values, n=100, method="inclusive")[p - 1], f"p{p}"
    return max(values), "max"


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def per_layer(ctx, tr, setup: dict, wl) -> dict[str, float]:
    """Fold the spans of the measured cycles into the per-layer metrics."""
    out = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    out.update(setup)
    measured = [s for s in tr.spans if s.get("measured") and "wall_s" in s]
    cycles = max(ctx.cycles, 1)

    def spans(layer, suffix=None, names=None):
        return [s for s in measured if s["layer"] == layer
                and (suffix is None or s["name"].endswith(suffix))
                and (names is None or s["name"] in names)]

    q_exec = spans("queries", ":exec")
    if q_exec:
        out["queries.build_s"] = _mean(s["wall_s"] for s in spans("queries", ":build"))
        # the exec span holds the write's own planning (see census.plan_s)
        out["queries.plan_s"] = _mean(s["counts"]["plan_s"] for s in q_exec)
        out["queries.exec_s"] = _mean(s["wall_s"] - s["counts"]["plan_s"] for s in q_exec)
        for k in ("driver_s", "jobs", "stages", "stages_skipped", "tasks", "cpu_ms",
                  "run_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "exchanges", "broadcast_joins", "smj"):
            out[f"queries.{k}"] = _mean(s["counts"][k] for s in q_exec)
        out["queries.slot_busy_frac"] = sum(s["counts"]["run_ms"] for s in q_exec) / (
            sum(s["wall_s"] for s in q_exec) * 1e3 * tr.census.slots)

    counted = [s for s in measured if "counts" in s]
    for k in ("bytes_sent", "bytes_returned", "worker_start_ms", "worker_init_ms", "run_ms"):
        out[f"python.{k}"] = sum(s["counts"][f"python_{k}"] for s in counted) / cycles

    for name in ("delays", "weather"):
        out[f"sources.{name}_ingest_s"] = _mean(s["wall_s"] for s in spans("sources", names={name}))
    out["sources.gtfs_ingest_s"] = _mean(
        s["wall_s"] for s in spans("sources", names={"gtfs_ingest"}))
    noops = spans("sources", names={"noop_delays", "noop_weather"})
    out["sources.noop_s"] = 2 * _mean(s["wall_s"] for s in noops)
    landing = spans("sources", names={"delays", "weather"})
    if landing:
        out["sources.jobs_per_ingest"] = _mean(s["counts"]["jobs"] for s in landing)
        out["sources.cpu_ms_per_ingest"] = _mean(s["counts"]["cpu_ms"] for s in landing)
        out["sources.driver_s_per_ingest"] = _mean(s["counts"]["driver_s"] for s in landing)

    w_exec = spans("warsaw", ":exec")
    if w_exec:
        out["warsaw.query_s"] = sum(s["wall_s"] for s in spans("warsaw")) / len(w_exec)
        out["warsaw.jobs"] = _mean(s["counts"]["jobs"] for s in w_exec)
        out["warsaw.cpu_ms"] = _mean(s["counts"]["cpu_ms"] for s in w_exec)
        out["warsaw.files_read"] = _mean(s["counts"]["files_read"] for s in w_exec)

    if spans("streaming"):
        out["streaming.init_s"] = _mean(s["wall_s"] for s in spans("streaming", names={"init"}))
        progress = ctx.samples.get("stream_progress_measured", [])
        for key, dur in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                         ("offset_ms", "latestOffset"), ("planning_ms", "queryPlanning")):
            out[f"streaming.{key}"] = _mean(p.get(dur, 0) for p in progress)
        per_batch: dict = {}
        for s in spans("streaming", names={"ingest"}):
            for j in s["jobs"]:
                if j["batch"] is not None and j["group"] in s["runs"]:
                    b = per_batch.setdefault((j["group"], j["batch"]), dict.fromkeys(
                        ("jobs", "stages", "cpu_ms", "shuffle"), 0.0))
                    b["jobs"] += 1
                    b["stages"] += j["stages"]
                    b["cpu_ms"] += j["cpu_ms"]
                    b["shuffle"] += j["shuffle_read_bytes"] + j["shuffle_write_bytes"]
        batches = list(per_batch.values())
        out["streaming.jobs_per_batch"] = _mean(b["jobs"] for b in batches)
        out["streaming.stages_per_batch"] = _mean(b["stages"] for b in batches)
        out["streaming.cpu_ms_per_batch"] = _mean(b["cpu_ms"] for b in batches)
        out["streaming.shuffle_bytes_per_batch"] = _mean(b["shuffle"] for b in batches)
        fin = spans("streaming", names={"finalize"})
        for key, k in (("jobs", "jobs"), ("stages", "stages"),
                       ("stages_skipped", "stages_skipped"), ("cpu_ms", "cpu_ms")):
            out[f"streaming.finalize_{key}"] = _mean(s["counts"][k] for s in fin)

    extra = getattr(wl, "layer_extra", None)
    if extra:
        out.update(extra(ctx))
    out["trace.overhead_s"] = tr.overhead_s
    return out


def _prepare_dirs(workload: str, seed: int) -> tuple[Path, Path]:
    base = ROOT / ".perfbench_work"
    base.mkdir(exist_ok=True)
    now = time.time()
    for old in base.glob("run-*"):  # left behind by a killed run
        if old.is_dir() and now - old.stat().st_mtime > 3600:
            shutil.rmtree(old, ignore_errors=True)
    work = base / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "data"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = None
    return base, work


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its workers) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mobility_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no mobility_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    base, work = _prepare_dirs(args.workload, args.seed)
    wl = WORKLOADS[args.workload]()
    cycles = math.ceil(args.seconds / wl.CYCLE_S)
    data = str(work / "data")
    t_start = time.perf_counter()
    wl.generate(args.seed, data, cycles)
    gen_s = time.perf_counter() - t_start
    from census import reset_peak_rss

    reset_peak_rss()

    # --- setup: session start + registry load + the warm-up
    from census import cpu_steal_jiffies

    steal0 = cpu_steal_jiffies()
    t0 = time.perf_counter()
    from mobility_etl_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "1m",
            "spark.sql.files.openCostInBytes": "64k",
            "spark.driver.memory": f"{HEAP_MB}m",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident heap no longer
            # moves with how far G1 happened to grow eden (2.6-3.7 GB);
            # no hsperfdata file under /tmp: the run writes only inside the
            # checkout; fixed JIT threads: see census.tree_cpu
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t_session = time.perf_counter()
    from census import (StreamLog, Tracer, heap_live_mb, peak_rss_by_process, tree_bytes,
                        tree_cpu)
    from mobility_etl_spark.registry import load_all

    specs = load_all()
    t_registry = time.perf_counter()
    tracer = Tracer(spark, bool(args.trace))
    ctx = Ctx(spark, tracer, specs, data, str(work), args.seed)
    ctx.stream_log = StreamLog()
    spark.streams.addListener(ctx.stream_log)
    wl.warmup(ctx)
    setup_s = time.perf_counter() - t0
    setup = {"session.start_s": t_session - t0,
             "registry.load_s": t_registry - t_session,
             "session.warmup_s": setup_s - (t_registry - t0)}

    # --- measure: closed loop, a fixed number of whole cycles, then finish
    warm = ctx.samples.copy()
    ctx.samples.clear()
    warm_spans = len(tracer.spans)
    t_measure = time.perf_counter()
    steal_start = cpu_steal_jiffies()
    cpu_start, jit_start = tree_cpu()
    while ctx.cycles < cycles:
        t_cycle, (cpu0, _) = time.perf_counter(), tree_cpu()
        wl.cycle(ctx)
        ctx.sample("pass_s", time.perf_counter() - t_cycle)
        ctx.sample("pass_cpu_s", tree_cpu()[0] - cpu0)
        ctx.cycles += 1
    getattr(wl, "finish", lambda _ctx: None)(ctx)
    measure_s = time.perf_counter() - t_measure
    cpu_end, jit_end = tree_cpu()
    steal_s = (cpu_steal_jiffies() - steal_start) / os.sysconf("SC_CLK_TCK")
    for s in tracer.spans[warm_spans:]:
        s["measured"] = True
    ctx.samples["stream_progress_measured"] = ctx.samples.pop("stream_progress", [])
    # memory of the program alone: read before the checks (DuckDB
    # oracles, pandas ground truth) run in this process
    procs = peak_rss_by_process()
    rss = sum(procs.values()) - HEAP_MB
    heap_mb = heap_live_mb(spark) if args.trace else None

    # --- correctness, untimed
    t_verify = time.perf_counter()
    try:
        wl.verify(ctx)
    except Exception as exc:  # noqa: BLE001 - a crashed check is a failed one
        ctx.check(False, f"verify: {type(exc).__name__}: {exc}")
    verify_s = time.perf_counter() - t_verify
    tmp_left = tree_bytes(str(work / "tmp"), str(work / "local"))
    spark.streams.removeListener(ctx.stream_log)
    t_stop = time.perf_counter()
    _stop(spark)
    stop_s = time.perf_counter() - t_stop

    s = ctx.samples
    print(f"# {args.workload} seed={args.seed} cycles={ctx.cycles} "
          f"attempted={ctx.attempted} failed={ctx.failed} "
          f"error_rate={ctx.failed / max(ctx.attempted, 1):.4f}", file=sys.stderr)
    for key, vals in sorted(s.items()):
        if vals and isinstance(vals[0], float):
            print(f"#   {key}: n={len(vals)} median={statistics.median(vals):.4f} "
                  f"min={min(vals):.4f} max={max(vals):.4f} "
                  f"[{' '.join(f'{v:.3f}' for v in vals[:12])}]", file=sys.stderr)
    print(f"# phases: generate {gen_s:.1f} s, set-up {setup_s:.1f} s, measure "
          f"{measure_s:.1f} s, verify {verify_s:.1f} s, stop {stop_s:.1f} s",
          file=sys.stderr)
    print(f"# peak RSS MB by process: {procs}", file=sys.stderr)
    print(f"# measured CPU {cpu_end - cpu_start:.2f} s, JIT {jit_end - jit_start:.2f} s",
          file=sys.stderr)
    print(f"# CPU steal during run: {(cpu_steal_jiffies() - steal0) / os.sysconf('SC_CLK_TCK'):.2f} "
          f"CPU-s, {steal_s:.2f} CPU-s of it while measuring", file=sys.stderr)
    for err in ctx.errors[:20]:
        print(f"# FAILED: {err}", file=sys.stderr)
    print(f"measure_s {measure_s:.6f} s (wall of the measured phase)")
    for name, (key, stat) in {"pass_s": ("pass_s", "p50"), **wl.NAMED}.items():
        vals = s.get(key) or warm.get(key, [])  # some ops run only in warm-up
        if not vals:
            continue
        v, how = (statistics.median(vals), "p50") if stat == "p50" else tail(vals)
        print(f"{name} {v:.6f} s ({how} of {len(vals)})")

    if args.trace:
        proc = {"proc.tmp_bytes_left": float(tmp_left), "proc.jit_cpu_s": jit_end - jit_start,
                "proc.heap_live_mb": heap_mb}
        layer = per_layer(ctx, tracer, {**setup, **proc}, wl)
        units = dict(PER_LAYER)
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
        trace_path = base / f"trace-{args.workload}-{args.seed}.json"
        with open(trace_path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans}, fh, default=str)
        last = base / f"last-{args.workload}-{args.seed}.json"
        if last.exists():
            prev = json.loads(last.read_text())
            for key, traced in (("measure_s", measure_s),
                                ("measure_cpu_s", cpu_end - cpu_start)):
                if key not in prev:  # written by an older benchmark version
                    continue
                print(f"# trace overhead: {key} {traced:.3f} traced vs "
                      f"{prev[key]:.3f} untraced ({traced / prev[key] - 1:+.1%})",
                      file=sys.stderr)
            print(f"# trace overhead: store reads {tracer.overhead_s:.3f} s", file=sys.stderr)
    else:
        values = {
            "setup_s": setup_s,
            "measure_cpu_s": cpu_end - cpu_start,
            "op_cpu_s": statistics.median(s[f"{wl.OP}_cpu_s"]),
            "peak_rss_mb": rss,
        }
        units = dict(END_TO_END)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        (base / f"last-{args.workload}-{args.seed}.json").write_text(
            json.dumps({**values, "measure_s": measure_s}))

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
