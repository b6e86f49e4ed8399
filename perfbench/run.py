#!/usr/bin/env python3
"""The repository benchmark: seeded ingest, serve and churn workloads.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1

One run: a hardware-control burn, a Spark session (``local[N]``, N = cores),
three setups of the workload's inputs on it, its index build (serve only), a
checked warm-up, a timed closed loop of at least ``--seconds`` and two
cycles with one client, then the correctness checks. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it report every metric with its
unit and sample count, the workload's own named metrics, the checks and the
hardware control. ``--workload all`` runs each workload in its own process
and prints the named metrics of all three. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# whole cycles per window, however short --seconds is: the first cycle after
# the warm-up still runs up to a fifth slower than the next, and a traced run
# needs a traced and an untraced op of every class (cycles have odd lengths)
MIN_CYCLES = 2

# end-to-end metrics of every workload: name -> unit. Peak RSS is reported
# as a named metric only: the JVM's heap growth made it spread by a third
# across identical runs, wider than any bound the benchmark may set.
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "cycle_p50_s": "s",
}

# per-layer metrics: name -> unit
PER_LAYER = {
    "session.get_spark_s": "s",
    "datagen.generate_s": "s",
    "quadtree.build_s": "s",
    "quadtree.cells": "count",
    "quadtree.leaves": "count",
    "search.prefix_s": "s",
    "search.located_ratio": "ratio",
    "search.dwithin_s": "s",
    "search.dwithin_pairs": "count",
    "knn.exact_s": "s",
    "knn.result_rows": "count",
    "pip.join_s": "s",
    "pip.hits": "count",
    "tiles.slice_s": "s",
    "tiles.slices_per_image": "ratio",
    "tiles.assign_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.files_written": "count",
    "snapshots.bytes_written": "bytes",
    "snapshots.append_deltas_s": "s",
    "snapshots.compactions": "count",
    "snapshots.read_where_s": "s",
    "snapshots.files_scanned_ratio": "ratio",
    "snapshots.pending_deltas": "count",
    "snapshots.read_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "arrow.python_rows": "count",
    "trace.overhead_s": "s",
}

# per-layer timing metric -> the span whose median wall it reports
SPAN_TIMES = {
    "session.get_spark_s": "session.get_spark",
    "quadtree.build_s": "quadtree.build_cells",
    "search.prefix_s": "search.quadrant_search_prefix",
    "search.dwithin_s": "search.distance_join",
    "knn.exact_s": "knn.knn_cells_exact",
    "pip.join_s": "pip.point_in_polygons_join",
    "tiles.slice_s": "tiles.slice_tiles",
    "tiles.assign_s": "tiles.assign_tiles",
    "snapshots.commit_s": "snapshots.commit",
    "snapshots.append_deltas_s": "snapshots.append_deltas",
    "snapshots.read_where_s": "snapshots.read_where",
    "snapshots.read_s": "snapshots.read",
}

# the named metrics each workload reports beside the gated ones: name -> unit
NAMED = {
    "ingest": {"ingest_images_per_s": "img/s"},
    "serve": {
        "serve_qps": "req/s",
        "serve_p50_s": "s",
        "serve_p90_s": "s",
        "search_p50_s": "s",
        "knn_p50_s": "s",
        "dwithin_p50_s": "s",
        "pip_p50_s": "s",
        "tile_hist_p50_s": "s",
    },
    "churn": {
        "upsert_p50_s": "s",
        "range_read_p50_s": "s",
        "full_read_p50_s": "s",
        "write_bytes_per_user_byte": "ratio",
    },
}
COMMON_NAMED = {"setup_s": "s", "peak_rss_mb": "MB", "failed_op_ratio": "failed/attempted"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "churn", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one quadtree cell before the checks (smoke test of the checks)")
    return ap.parse_args(argv)


def percentile_with_tail(values: list[float], q: float) -> float | None:
    """The q-quantile, or None unless at least ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------


def configure_env(work: str) -> int:
    """Keep every file the run writes inside ``work``; return N (cores)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return len(os.sched_getaffinity(0))


def start_session(work: str, cores: int):
    from geospatial_cuda_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    jopts = f"-XX:-DontCompileHugeMethods -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": jopts,
            "spark.executor.extraJavaOptions": jopts,
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and SQL execution back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    return proc.pid if proc else None


def peak_rss_mb() -> float:
    """The JVM's VmHWM plus this driver process's peak RSS."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid()
    if pid:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it and its Python workers to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    if proc is None:
        return
    pids = _descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; the JVM still gets EOF
        pass
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------


def run_workload(args) -> int:
    try:
        import geospatial_cuda_spark  # the program under test, from this checkout only
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(geospatial_cuda_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the library was imported from outside {ROOT}", file=sys.stderr)
        return 2
    import hwcontrol
    from spans import Tracer
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = configure_env(work)
    phases = {"start": time.perf_counter() - T_START}
    t = time.perf_counter()
    hw = hwcontrol.measure(cores)
    phases["hw"] = time.perf_counter() - t

    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](tracer, work, args.seed, args.scale, args.corrupt)
    spark = None
    setup_times: list[float] = []
    try:
        with tracer.span("session.get_spark"):
            t = time.perf_counter()
            spark = start_session(work, cores)
            session_s = time.perf_counter() - t
        tracer.attach(spark)
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.span("bench.setup"):
                wl.setup(spark, rep)
            setup_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("bench.prepare"):
            wl.prepare()
        prepare_s = time.perf_counter() - t
        phases["session"] = session_s
        phases["setup"] = sum(setup_times)
        phases["prepare"] = prepare_s
        t = time.perf_counter()
        with tracer.span("bench.warm"):
            try:
                checks = wl.warm()
            except Exception:
                traceback.print_exc()
                checks = [{"name": f"{args.workload}.warm_checks_ran", "ok": False, "detail": "raised"}]

        phases["warm"] = time.perf_counter() - t
        ops: list[dict] = []
        i = cycle = 0
        t0 = time.perf_counter()
        while True:
            for op in wl.cycle:
                # traced runs trace every other op; the rest measure the overhead
                tracer.enabled = bool(args.trace) and i % 2 == 0
                tracer.req = f"{op}-{i}"
                t = time.perf_counter()
                ok, items = True, 0
                with tracer.span(f"bench.{op}"):
                    try:
                        items = wl.run_op(op, i)
                    except Exception:
                        traceback.print_exc()
                        ok = False
                ops.append({"op": op, "wall": time.perf_counter() - t, "items": items,
                            "ok": ok, "traced": tracer.enabled, "cycle": cycle, "req": tracer.req})
                i += 1
            cycle += 1
            if time.perf_counter() - t0 >= args.seconds and cycle >= MIN_CYCLES:
                break
        elapsed = time.perf_counter() - t0
        phases["window"] = elapsed
        tracer.enabled, tracer.req = bool(args.trace), None
        t = time.perf_counter()

        try:
            checks += wl.check()
        except Exception:
            traceback.print_exc()
            checks.append({"name": f"{args.workload}.checks_ran", "ok": False, "detail": "raised"})
        rss = peak_rss_mb()
        tracer.finish()
        phases["checks"] = time.perf_counter() - t
    finally:
        t = time.perf_counter()
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        phases["stop"] = time.perf_counter() - t

    failed_ops = sum(not o["ok"] for o in ops)
    failed_checks = sum(not c["ok"] for c in checks)
    attempted = len(ops) + len(checks)
    failed = failed_ops + failed_checks

    setup_s = session_s + statistics.median(setup_times) + prepare_s
    named = named_metrics(args.workload, ops, failed / attempted, attempted, elapsed, setup_s, rss, wl)
    e2e = {
        "setup_s": (setup_s, len(setup_times)),
        "items_per_s": (sum(o["items"] for o in ops) / elapsed, len(ops)),
        "cycle_p50_s": cycle_p50(ops),
    }
    layers = layer_metrics(tracer, wl, ops) if args.trace else {}

    print(f"# workload {args.workload} seed {args.seed} scale {args.scale} "
          f"local[{cores}] window {elapsed:.2f} s, {len(ops)} ops in {cycle} cycles")
    print("# phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    print("# hardware control (metadata, not gated): " + ", ".join(
        f"{k} {v:.3f}" for k, v in hw.items()))
    print(f"# session start {session_s:.3f} s; setup reps (s): "
          + ", ".join(f"{t:.3f}" for t in setup_times) + f"; prepare {prepare_s:.3f} s")
    for c in checks:
        print(f"# check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    for name, (value, n) in e2e.items():
        print(f"metric {name} = {value:.6g} {END_TO_END[name]} (n={n})")
    for name, (value, n, unit) in named.items():
        shown = "null" if value is None else f"{value:.6g}"
        print(f"named {name} = {shown} {unit} (n={n})")
    if args.trace:
        for line in trace_summary(tracer, ops):
            print(line)
        for name, value in layers.items():
            print(f"layer {name} = {value:.6g} {PER_LAYER[name]}")
        tracer.dump(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))

    record = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale, "cores": cores,
        "window_s": elapsed, "hardware_control": hw, "session_s": session_s, "phases": phases,
        "setup_reps_s": setup_times, "prepare_s": prepare_s,
        "checks": checks, "ops": ops,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k], "n": n} for k, (v, n) in e2e.items()},
        "named": {k: {"value": v, "unit": u, "n": n} for k, (v, n, u) in named.items()},
        "per_layer": layers,
    }
    with open(os.path.join(ROOT, ".perfbench", f"result-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


def cycle_p50(ops: list[dict]) -> tuple[float, int]:
    """Median wall of one cycle of the workload's operations: an ingest rep,
    one request of each serve class, or a churn upsert + range read + full
    read. A cycle mixes the same operations on every run, where the median
    of single serve requests would jump between request classes."""
    per_cycle: dict[int, float] = {}
    for o in ops:
        per_cycle[o["cycle"]] = per_cycle.get(o["cycle"], 0.0) + o["wall"]
    return statistics.median(per_cycle.values()), len(per_cycle)


def named_metrics(workload, ops, failed_ratio, attempted, elapsed, setup_s, rss, wl) -> dict:
    out: dict[str, tuple] = {}
    out["setup_s"] = (setup_s, SETUP_REPS, "s")
    out["peak_rss_mb"] = (rss, 1, "MB")
    out["failed_op_ratio"] = (failed_ratio, attempted, "failed/attempted")
    plain = [o for o in ops if not o["traced"]] or ops

    def p50(op):
        walls = [o["wall"] for o in plain if o["op"] == op]
        return (statistics.median(walls) if walls else None, len(walls), "s")

    if workload == "ingest":
        rates = [o["items"] / o["wall"] for o in plain if o["ok"]]
        out["ingest_images_per_s"] = (statistics.median(rates) if rates else None, len(rates), "img/s")
    elif workload == "serve":
        walls = [o["wall"] for o in plain]
        out["serve_qps"] = (len(ops) / elapsed, len(ops), "req/s")
        out["serve_p50_s"] = (statistics.median(walls), len(walls), "s")
        out["serve_p90_s"] = (percentile_with_tail(walls, 0.9), len(walls), "s")
        for op in wl.cycle:
            out[f"{op}_p50_s"] = p50(op)
    else:
        for op in wl.cycle:
            out[f"{op}_p50_s"] = p50(op)
        ratio = wl.layer_counts.get("write_bytes_per_user_byte")
        out["write_bytes_per_user_byte"] = (ratio, wl.upserts, "ratio")
    return out


def layer_metrics(tracer, wl, ops) -> dict[str, float]:
    from spans import CODEGEN_COUNTERS, SPARK_COUNTERS, median_or_zero

    spans = tracer.spans
    timed = [s for s in spans if s.req is not None]
    setup = [s for s in spans if s.req is None]

    def walls(name):
        got = [s.wall for s in timed if s.name == name]
        return got or [s.wall for s in setup if s.name == name]

    def counter(key):
        """Mean per span of ``key`` over spans that carry it (timed first)."""
        pool = [s for s in timed if key in s.counters] or [s for s in setup if key in s.counters]
        return sum(s.counters[key] for s in pool) / len(pool) if pool else 0.0

    def total(key):
        return sum(s.counters.get(key, 0) for s in timed)

    out = {name: median_or_zero(walls(span)) for name, span in SPAN_TIMES.items()}
    out["datagen.generate_s"] = median_or_zero(s.wall for s in setup if s.layer == "datagen")
    out["quadtree.cells"] = counter("quadtree.cells")
    out["quadtree.leaves"] = counter("quadtree.leaves")
    q = total("search.queries")
    out["search.located_ratio"] = total("search.located") / q if q else 0.0
    imgs = total("tiles.images")
    out["tiles.slices_per_image"] = total("tiles.slices") / imgs if imgs else 0.0
    out["snapshots.files_written"] = counter("snapshots.files_written")
    out["snapshots.bytes_written"] = counter("snapshots.bytes_written")
    scanned = total("snapshots.files_total")
    out["snapshots.files_scanned_ratio"] = total("snapshots.files_scanned") / scanned if scanned else 0.0
    out["snapshots.pending_deltas"] = counter("snapshots.pending_deltas")
    # Spark, codegen and Arrow counters: mean per traced operation
    traced_reqs = {o["req"] for o in ops if o["traced"]}
    for key in SPARK_COUNTERS + CODEGEN_COUNTERS:
        per_req = [sum(s.counters.get(key, 0) for s in timed if s.req == r) for r in traced_reqs]
        out[key] = sum(per_req) / len(per_req) if per_req else 0.0
    out.update(wl.layer_counts)  # counts taken from the checked warm-up outputs
    out["trace.overhead_s"] = trace_overhead(ops)
    # a metric the workload never exercises reads 0
    return {k: float(out.get(k, 0.0)) for k in PER_LAYER}


def trace_overhead(ops: list[dict]) -> float:
    """Traced minus untraced median wall, per op class, averaged over classes."""
    diffs = []
    for op in {o["op"] for o in ops}:
        tr = [o["wall"] for o in ops if o["op"] == op and o["traced"]]
        un = [o["wall"] for o in ops if o["op"] == op and not o["traced"]]
        if tr and un:
            diffs.append(statistics.median(tr) - statistics.median(un))
    return sum(diffs) / len(diffs) if diffs else 0.0


def trace_summary(tracer, ops) -> list[str]:
    """Per-layer self time over the traced operations, which sums to their wall."""
    traced = {o["req"] for o in ops if o["traced"]}
    wall = sum(o["wall"] for o in ops if o["traced"])
    spans = [s for s in tracer.spans if s.req in traced]
    selfs: dict[str, float] = {}
    for s in spans:
        selfs[s.layer] = selfs.get(s.layer, 0.0) + tracer.self_time(s)
    lines = [f"# traced ops {len(traced)}, wall {wall:.3f} s; layer self time:"]
    for layer, t in sorted(selfs.items(), key=lambda kv: -kv[1]):
        lines.append(f"#   {layer:<10} {t:8.3f} s  {100 * t / wall if wall else 0:5.1f}%")
    lines.append(f"#   {'sum':<10} {sum(selfs.values()):8.3f} s")
    return lines


# ---------------------------------------------------------------------------
# all workloads
# ---------------------------------------------------------------------------


def run_all(args) -> int:
    """Each workload in its own process; print every named metric."""
    named: dict[str, dict] = {}
    correct, attempted, failed = True, 0, 0
    for wl in ("ingest", "serve", "churn"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{wl}] {line}")
        if proc.returncode not in (0, 1) or not lines:
            print(f"perfbench: workload {wl} exited {proc.returncode}", file=sys.stderr)
            return proc.returncode or 2
        res = json.loads(lines[-1])
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        with open(os.path.join(ROOT, ".perfbench", f"result-{wl}-{args.seed}.json")) as f:
            rec = json.load(f)
        for k, v in rec["named"].items():
            key = k if k in NAMED[wl] else f"{wl}.{k}"
            named[key] = v
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": named}))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
