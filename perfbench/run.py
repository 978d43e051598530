"""Product-path benchmark for spark-graft.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 5 --trace 0

Runs one workload in a closed loop with one client, in this process, on
``local[<cpus>]``: a first pass in the fresh process, then measured passes
until they total ``--seconds`` (at least two).  Every pass is checked against
DuckDB outside the timed region.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs two fused passes (first and warm-up), a layered
pass with spans and the Spark event log on, and a warm fused pass, and
prints the per-layer metrics.  The last stdout line is one JSON object; a table with units and
sample counts comes before it, and the full record (environment stamp,
spans, per-span Spark counts) is written under ``perfbench/.state/results``.

Must be run from a checkout of the repository: it imports the engine
package and the ``jobs/`` CLIs from the directory above its own.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")  # lakes, caches, results; git-ignored
PACKAGE = "spark_hadoop_automation_in_cloud_spark"
WORKLOADS = ("daily_pipeline", "registry_iterative")
#: passes before the measured ones: the first (reported as first_pass_s).
#: The second pass still pays some JIT compilation, but over ten seeds the
#: median of passes 2-3 spread no more from run to run than that of passes
#: 3-4 on either workload, so a separate warm-up pass would only cost time
UNMEASURED_PASSES = 1
#: fewest measured passes per run: one warm pass spreads by 20-25% from run
#: to run on a shared 4-core machine
MIN_MEASURED = 2


def _process_age() -> float:
    """Seconds since this process was created (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _isolate(work: str) -> None:
    """Point every temp path of this process and its children into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("TMPDIR", "TEMP", "TMP"):
        os.environ[var] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_session(work: str, event_log: str | None = None):
    """The engine's session with the benchmark's fixed settings, plus one
    trivial job (the first job pays one-time scheduler start-up).  The
    driver heap keeps Spark's default sizing, as the jobs' own sessions do."""
    from spark_hadoop_automation_in_cloud_spark.session import (
        SessionConfig,
        get_session,
        local_master,
    )

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.enabled": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_session(
        SessionConfig(app_name="perfbench", master=local_master(_cpus()), extra_conf=conf)
    )
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM this process launched; wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# --- subprocess modes ------------------------------------------------------


def _child(args: list[str], work: str) -> str:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args, "--work", work],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        check=True,
        timeout=170,
    ).stdout.decode()
    return out.strip().splitlines()[-1] if out.strip() else ""


def _lakes(seed: int, workload: str, work: str) -> dict[str, dict]:
    """{kind: {path, events, bytes}} for the workload's lakes, generated on
    first use.  Always asked of a child process, so this process's imports
    stay cold for set-up."""
    kinds = "raw,event" if workload == "daily_pipeline" else "registry"
    return json.loads(_child(["--generate", kinds, "--seed", str(seed)], work))


def generate(kinds: str, seed: int) -> None:
    sys.path.insert(0, HERE)
    import lakes

    out = {}
    for kind in kinds.split(","):
        path = lakes.lake(os.path.join(STATE, "cache"), kind, seed)
        out[kind] = {"path": path, "events": lakes.event_rows(path),
                     "bytes": lakes.input_bytes(path)}
    print(json.dumps(out))


# --- the run ---------------------------------------------------------------


def _env_stamp() -> dict:
    import pyspark

    java = subprocess.run(
        ["java", "-version"], stderr=subprocess.PIPE, stdout=subprocess.DEVNULL, check=False
    ).stderr.decode().splitlines()
    return {
        "nproc": _cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "java": java[0] if java else None,
        "python": platform.python_version(),
    }


def _machine_factor(spark) -> dict:
    """``bench.machine_factor()`` once per checkout (it runs ~40 s of pinned
    kernels), cached beside the lakes and stamped on every result."""
    path = os.path.join(STATE, "cache", "machine_factor.json")
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    sys.path.insert(0, ROOT)
    import bench

    mf = bench.machine_factor(spark)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(mf, f)
    os.replace(tmp, path)
    return mf


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


class Checker:
    """The DuckDB checks (verify.py), served by a child process so this
    process holds only the program's own work."""

    def __init__(self, workload: str, out_dir: str, lakes: dict[str, str]):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "verify.py"), workload, ROOT, out_dir,
             json.dumps(lakes)],
            cwd=ROOT,
            env={**os.environ, "PYTHONPATH": ROOT},
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        if self.proc.stdout.readline().strip() != "ready":
            self.close()
            raise RuntimeError("checker failed to start")

    def check(self, op: str) -> str | None:
        self.proc.stdin.write(op + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())["error"]

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _one_pass(ctx, steps, checker: Checker, failures: list, step_walls: list) -> tuple[float, int]:
    """Timed pass over ``steps`` then, untimed, the checks.  Returns (wall,
    operations attempted)."""
    done, walls = [], {}
    t0 = time.perf_counter()
    for name, run_step in steps:
        ts = time.perf_counter()
        try:
            run_step()
            done.append(name)
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted
            failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        walls[name] = time.perf_counter() - ts
    wall = time.perf_counter() - t0
    step_walls.append(walls)
    _check(ctx, done, checker, failures)
    return wall, len(walls)


def _check(ctx, done: list[str], checker: Checker, failures: list, tag: str = "") -> None:
    import workloads as wl

    for layer, df in ctx.outputs.items():
        path = wl.captured_path(ctx.out_dir, layer)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_pickle(path)
    ctx.outputs.clear()
    for name in done:
        err = checker.check(name)
        if err:
            failures.append(f"{name}{tag}: {err}")


def run(args) -> int:
    age0 = _process_age()
    work = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    try:
        return _run(args, age0, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, age0: float, work: str) -> int:
    _isolate(work)
    lake_info = _lakes(args.seed, args.workload, work)
    lake_paths = {k: v["path"] for k, v in lake_info.items()}

    t0 = time.perf_counter()
    import pyspark  # noqa: F401
    import spark_hadoop_automation_in_cloud_spark.queries  # noqa: F401

    sys.path.insert(0, HERE)
    import workloads as wl

    t1 = time.perf_counter()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = start_session(work, event_log)
    t2 = time.perf_counter()
    setup = {"setup_s": age0 + t2 - t0, "import_s": t1 - t0, "start_s": t2 - t1}

    try:
        ctx = wl.Ctx(ROOT, spark, lake_paths, os.path.join(work, "out"))
        if args.workload == "daily_pipeline":
            steps, layered = wl.daily_steps, wl.daily_layered
        else:
            steps, layered = wl.registry_steps, wl.registry_layered
        checker = Checker(args.workload, ctx.out_dir, lake_paths)
        failures: list[str] = []
        attempted = 0
        walls, step_walls = [], []
        try:
            if args.trace:
                result = _trace(ctx, steps, layered, checker, failures, step_walls)
                attempted = result.pop("_attempted")
            else:
                measured = []
                while len(measured) < MIN_MEASURED or sum(measured) < args.seconds:
                    wall, n = _one_pass(ctx, list(steps(ctx)), checker, failures, step_walls)
                    walls.append(wall)
                    measured = walls[UNMEASURED_PASSES:]
                    attempted += n
                result = {}
        finally:
            checker.close()
        outputs = _dir_size(ctx.out_dir)
        pid = jvm_pid()
        rss = {"python": _peak_rss_mb(), "jvm": _peak_rss_mb(pid) if pid else 0.0}
        mf = _machine_factor(spark)
    finally:
        stop_session(spark)

    input_events = sum(v["events"] for v in lake_info.values())
    input_bytes = sum(v["bytes"] for v in lake_info.values())
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": _env_stamp(),
        "machine_factor": mf,
        "input": {"events": input_events, "bytes": input_bytes, "lakes": lake_paths},
        "setup": setup,
        "walls": walls,
        "step_walls": step_walls,
        "peak_rss_mb": rss,
        "failures": failures,
    }
    if args.trace:
        metrics = _trace_metrics(result, setup, outputs, input_bytes, work)
        record["trace_detail"] = result
    else:
        measured = walls[UNMEASURED_PASSES:]
        warm = statistics.median(measured)
        metrics = {
            "setup_s": (setup["setup_s"], "s", 1),
            "first_pass_s": (walls[0], "s", 1),
            "wall_s": (warm, "s", len(measured)),
            "events_per_s": (input_events / warm, "1/s", len(measured)),
            "peak_rss_mb": (rss["python"] + rss["jvm"], "MB", 1),
        }
        record["output"] = {"files": outputs[0], "bytes": outputs[1]}
    record["metrics"] = metrics
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(os.path.join(STATE, "results", stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} env={json.dumps(record['env'])}")
    print(f"# operations attempted={attempted} failed={len(failures)} "
          f"failed_frac={len(failures) / max(attempted, 1):.4f}")
    for msg in failures[:20]:
        print(f"# FAILED {msg}")
    for name, (value, unit, n) in metrics.items():
        print(f"# {name:44s} {value:16.6f} {unit:6s} n={n}")
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            }
        )
    )
    return 0


def _trace(ctx, steps, layered, checker, failures, step_walls) -> dict:
    """Fused first pass, a fused warm-up pass (it still pays JIT), then the
    layered pass under spans (each layer's output materialized in turn),
    then a fused pass.  The layered and the last fused pass are both warm;
    the gap between their walls is the tracing overhead."""
    from spans import Tracer

    first, n1 = _one_pass(ctx, list(steps(ctx)), checker, failures, step_walls)
    _, n0 = _one_pass(ctx, list(steps(ctx)), checker, failures, step_walls)
    ctx.tracer = Tracer(run_id=f"run{os.getpid()}", spark=ctx.spark)
    t0 = time.perf_counter()
    with ctx.tracer.span("pass"):
        layered(ctx)
    traced = time.perf_counter() - t0
    spans, ctx.tracer = ctx.tracer.spans, None
    checked = [name for name, _ in steps(ctx)]
    _check(ctx, checked, checker, failures, " (layered)")
    fused, n2 = _one_pass(ctx, list(steps(ctx)), checker, failures, step_walls)
    return {
        "_attempted": n1 + n0 + len(checked) + n2,
        "run_id": f"run{os.getpid()}",
        "spans": spans,
        "counts": dict(ctx.counts),
        "first_pass_s": first,
        "traced_wall_s": traced,
        "fused_wall_s": fused,
    }


def _trace_metrics(result: dict, setup: dict, outputs: tuple[int, int], input_bytes: int,
                   work: str) -> dict:
    """Per-layer metrics from the spans and the reduced event log."""
    import spans as tr

    import workloads as wl

    lines = []
    log_dir = os.path.join(work, "eventlog")
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            lines.extend(f)
    spans: list[tr.Span] = result.pop("spans")
    counts = tr.reduce_event_log(lines, result["run_id"])
    selfs = tr.self_times(spans)
    rows = result["counts"]

    def named(*names):
        return [s for s in spans if s.name in names]

    def self_s(name):
        return sum(selfs[s.id] for s in named(name))

    def total(*names) -> tr.SpanCounts:
        return tr.rollup(spans, counts, [s.id for s in named(*names)])

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "session.import_s": (setup["import_s"], "s"),
        "session.start_s": (setup["start_s"], "s"),
    }
    for layer in ("jobs.demographics", "jobs.zone_activity", "jobs.recommendations"):
        m[layer + "_s"] = (sum(s.wall for s in named(layer)), "s")
    scan = total("nearest", "io.scan")
    m["io.scan_rows"] = (scan.counters.get("input_rows", 0), "count")
    m["io.scan_bytes"] = (scan.counters.get("input_bytes", 0), "B")
    kept = rows.get("nearest_rows", 0) + rows.get("scan_kept_rows", 0)
    m["io.window_keep_frac"] = (ratio(kept, m["io.scan_rows"][0]), "ratio")
    m["io.write_s"] = (self_s("io.write"), "s")
    m["io.write_bytes"] = (outputs[1], "B")
    m["io.write_files"] = (outputs[0], "count")
    m["io.output_bytes_per_input_byte"] = (ratio(outputs[1], input_bytes), "ratio")
    m["sources.flatten_s"] = (self_s("sources.flatten"), "s")
    near = total("nearest")
    m["nearest.self_s"] = (self_s("nearest"), "s")
    m["nearest.candidates_per_event"] = (
        ratio(near.sql.get(("BroadcastNestedLoopJoin", "number of output rows"), 0),
              rows.get("nearest_rows", 0)),
        "ratio",
    )
    m["nearest.shuffle_write_bytes"] = (near.counters.get("shuffle_write_bytes", 0), "B")
    for plan in ("demographics", "activity_rollup", "recommendations"):
        c = total(plan)
        m[f"{plan}.self_s"] = (self_s(plan), "s")
        m[f"{plan}.shuffle_write_bytes"] = (c.counters.get("shuffle_write_bytes", 0), "B")
        m[f"{plan}.spill_bytes"] = (c.counters.get("spill_bytes", 0), "B")
    cand = max(
        (v for (node, metric), v in total("recommendations").sql.items()
         if metric == "number of output rows" and "Join" in node),
        default=0,
    )
    m["recommendations.keep_frac"] = (ratio(rows.get("recommendations_rows", 0), cand), "ratio")
    for q in wl.GRAPH_QUERIES:
        layer = wl.query_layer(q)
        c = total(layer)
        m[f"{layer}.self_s"] = (self_s(layer), "s")
        m[f"{layer}.jobs"] = (c.jobs, "count")
        m[f"{layer}.driver_gap_s"] = (
            max(sum(s.wall for s in named(layer)) - c.busy_s, 0.0), "s")
    for q in wl.SEARCH_QUERIES:
        layer = wl.query_layer(q)
        m[f"{layer}.self_s"] = (self_s(layer), "s")
        m[f"{layer}.shuffle_write_bytes"] = (
            total(layer).counters.get("shuffle_write_bytes", 0), "B")
    (root,) = named("pass")
    c = total("pass")
    task_s = c.counters.get("task_s", 0)
    m.update(
        {
            "spark.jobs": (c.jobs, "count"),
            "spark.stages": (c.stages, "count"),
            "spark.tasks": (c.tasks, "count"),
            "spark.task_s": (task_s, "s"),
            "spark.busy_frac": (ratio(c.busy_s, root.wall), "ratio"),
            "spark.util_frac": (ratio(task_s, root.wall * _cpus()), "ratio"),
            "spark.driver_gap_s": (max(root.wall - c.busy_s, 0.0), "s"),
            "spark.shuffle_write_bytes": (c.counters.get("shuffle_write_bytes", 0), "B"),
            "spark.shuffle_records": (c.counters.get("shuffle_records", 0), "count"),
            "spark.spill_bytes": (c.counters.get("spill_bytes", 0), "B"),
            "spark.distinct_plans": (tr.distinct_plans(lines), "count"),
            "trace.fused_wall_s": (result["fused_wall_s"], "s"),
            "trace.traced_wall_s": (result["traced_wall_s"], "s"),
            "trace.overhead_s": (result["traced_wall_s"] - result["fused_wall_s"], "s"),
            "trace.layer_self_sum_s": (sum(v for k, v in selfs.items() if k != root.id), "s"),
        }
    )
    result["spans"] = []
    for s in spans:
        c = counts.get(s.id, tr.SpanCounts())
        result["spans"].append(
            {**asdict(s), "self_s": selfs[s.id], "spark": {
                **asdict(c), "sql": {f"{a}/{b}": v for (a, b), v in c.sql.items()}}}
        )
    return {k: (v, u, 1) for k, (v, u) in m.items()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(
        os.path.join(ROOT, "jobs")
    ):
        print(f"perfbench: no {PACKAGE}/ and jobs/ beside {HERE}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.generate:
        _isolate(args.work)
        generate(args.generate, args.seed)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
