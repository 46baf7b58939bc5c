"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

A run generates the workload's inputs from the seed, runs the DuckDB
oracle on them in a child process, sets the engine up once, cold, makes
the workload's untimed warm-up passes and then measures whole passes
until ``--seconds`` have gone by. Every operation's output is checked
against the oracle; a mismatch or an exception counts as a failed
operation.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` records spans, alternates traced and untraced passes and
prints the per-layer metrics, including the tracing overhead measured
against the untraced passes of the same run. The last line of standard
output is one JSON object; a fuller result (and, traced, every span) is
written under ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, ROOT)

from perfbench.trace import self_times  # noqa: E402

RESULTS = os.path.join(HERE, "results")
WORK = os.path.join(HERE, ".work")

BENCH_VERSION = 1
# a heap that fits a 16 GB machine beside the Python process, and that the
# small inputs fill quickly; get_spark's own default (48g) does not fit
DRIVER_MEM = "2g"
# the heap is committed whole at launch, so peak RSS follows the pages
# the run touches, not how far G1 happened to grow the heap
SESSION_CONF = {
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
}
# operation kinds whose latency is latency_p50_s; point reads are read_p50_s
LATENCY_KINDS = ("query", "write", "pipeline")
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75)
PHASES = ("analysis", "optimization", "planning")


def declared_metrics() -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` from
    the BENCHMARK.json beside this directory."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        group: {m["name"]: m["unit"] for m in spec[group]}
        for group in ("end_to_end", "per_layer")
    }


def timing(samples: list[float]) -> dict:
    """Median plus the highest listed percentile with at least ten
    samples beyond it (None when the sample is too small)."""
    out = {"n": len(samples), "median": statistics.median(samples) if samples else None}
    out["tail_pct"] = out["tail"] = None
    for pct in TAIL_PERCENTILES:
        if len(samples) * (100 - pct) / 100 >= 10:
            ordered = sorted(samples)
            out["tail_pct"] = pct
            out["tail"] = ordered[min(len(ordered) - 1, int(len(ordered) * pct / 100))]
            break
    return out


def write_atomic(path: str, payload) -> None:
    """Write JSON via a pid-suffixed temp file and a rename, so two
    benchmark processes never interleave partial files."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)
    os.replace(tmp, path)


def pin_env(work: str, cpus: int) -> None:
    """Fix what the engine reads from the environment, and keep every
    scratch file (Spark's, the JVMs', Python's) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait until it and
    every process it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    spawned = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in spawned:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


class Tally:
    """Attempted and failed operations, with the first few failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, op_id: str, err: str | None) -> None:
        self.attempted += 1
        if err is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{op_id}: {err}")


def _attempt(fn, *args):
    """Run ``fn``; an exception becomes the operation's error text."""
    try:
        return fn(*args), None
    except Exception as exc:  # every failure is counted, never retried
        return None, f"{type(exc).__name__}: {str(exc)[:300]}"


def layer_metrics(spans, n_passes: int, rows_out: int, wall_s: float, cpus: int) -> dict:
    """Per-layer metrics over the spans of ``n_passes`` traced passes,
    each a per-pass mean unless it is a ratio."""
    own = self_times(spans)
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def inclusive(s, key: str) -> float:
        return s.spark.get(key, 0) + sum(inclusive(c, key) for c in children.get(s.span_id, []))

    def named(name):
        return [s for s in spans if s.name == name]

    def per_pass(x: float) -> float:
        return x / n_passes

    total = Counter()
    for s in spans:
        total.update(s.spark)
    plans = [s for s in spans if s.layer == "plans"]
    actions = named("exec.action")
    m = {
        "plans.build_self_s": per_pass(sum(own[s.span_id] for s in plans)),
        "plans.build_jobs": per_pass(sum(inclusive(s, "jobs") for s in plans)),
        "plans.build_job_s": per_pass(sum(inclusive(s, "job_ms") for s in plans) / 1e3),
        "exec.action_s": per_pass(sum(s.duration for s in actions)),
        "spark.jobs": per_pass(total["jobs"]),
        "spark.stages": per_pass(total["stages"]),
        "spark.tasks": per_pass(total["tasks"]),
        "spark.executor_run_s": per_pass(total["executor_run_ms"] / 1e3),
        "spark.executor_cpu_s": per_pass(total["executor_cpu_ns"] / 1e9),
        "spark.task_busy_ratio": total["executor_run_ms"] / 1e3 / (wall_s * cpus),
        "spark.input_bytes": per_pass(total["input_bytes"]),
        "spark.rows_read_per_row_out": total["input_records"] / max(rows_out, 1),
        "spark.shuffle_read_bytes": per_pass(total["shuffle_read_bytes"]),
        "spark.shuffle_write_bytes": per_pass(total["shuffle_write_bytes"]),
        "spark.spill_bytes": per_pass(total["spill_bytes"]),
        "spark.failed_tasks": per_pass(total["failed_tasks"]),
        "catalog.load_calls": per_pass(len(named("catalog.load"))),
        "catalog.load_s": per_pass(sum(s.duration for s in named("catalog.load"))),
        "cache.pin_calls": per_pass(len(named("cache.pin"))),
        "cache.checkpoint_calls": per_pass(len(named("cache.checkpoint"))),
        "cache.checkpoint_s": per_pass(sum(s.duration for s in named("cache.checkpoint"))),
        "cache.release_s": per_pass(sum(s.duration for s in named("cache.release"))),
        "cache.released": per_pass(sum(s.attrs.get("released", 0) for s in named("cache.release"))),
        "sinks.json_tree_write_s": per_pass(sum(s.duration for s in named("sinks.json_tree_write"))),
        "sinks.json_tree_read_s": per_pass(sum(s.duration for s in named("sinks.json_tree_read"))),
        "sinks.parquet_write_s": per_pass(sum(s.duration for s in named("sinks.parquet_write"))),
        "sinks.keys_written": per_pass(
            sum(s.attrs.get("keys_written", 0) for s in named("sinks.json_tree_write"))
        ),
    }
    for phase in PHASES:
        m[f"catalyst.{phase}_ms"] = per_pass(
            sum(s.attrs.get("catalyst_ms", {}).get(phase, 0) for s in actions)
        )
    return m


def self_time_by_layer(spans, n_passes: int) -> dict[str, float]:
    own = self_times(spans)
    out = Counter()
    for s in spans:
        out[s.layer] += own[s.span_id]
    return {layer: t / n_passes for layer, t in sorted(out.items())}


def op_latencies(passes: list[dict]) -> list[float]:
    """Per-operation latencies of the untraced passes, reads excluded."""
    return [dt for p in passes if not p["traced"] for kind, dt, _ in p["ops"] if kind in LATENCY_KINDS]


def end_to_end_metrics(setup_s: float, passes: list[dict], peak_rss: float) -> dict:
    """The end-to-end metrics, from the untraced timed passes only."""
    plain = [p for p in passes if not p["traced"]]
    op_lat = op_latencies(passes)
    rows = sum(r for p in plain for _, _, r in p["ops"])
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(p["wall"] for p in plain),
        "latency_p50_s": statistics.median(op_lat),
        "out_rows_per_s": rows / sum(p["wall"] for p in plain),
        "peak_rss_mb": peak_rss,
    }


def workload_metrics(passes: list[dict], disk: tuple[int, int, int], tally: Tally) -> dict:
    """Measured on every run but not meaningful on every workload (0
    where it has no point reads or no sink output), so declared with
    the layers rather than as end-to-end metrics."""
    reads = [dt for p in passes for kind, dt, _ in p["ops"] if kind == "read"]
    _, allocated, data_bytes = disk
    return {
        "read_p50_s": statistics.median(reads) if reads else 0.0,
        "space_amp": allocated / data_bytes if data_bytes else 0.0,
        "failed_ops_ratio": tally.failed / tally.attempted,
    }


def trace_extra_metrics(setup: dict, passes: list[dict], disk: tuple[int, int, int]) -> dict:
    """Per-layer metrics measured outside the spans."""
    traced = [p["wall"] for p in passes if p["traced"]]
    plain = [p["wall"] for p in passes if not p["traced"]]
    files, allocated, _ = disk
    return {
        "session.get_spark_s": setup["get_spark_s"],
        "warmup.cold_pass_s": setup["warm_op_s"],
        "jvm.gc_s": statistics.mean(p["gc_s"] for p in passes if p["traced"]),
        "sinks.files_written": files,
        "sinks.bytes_written": allocated,
        "trace.overhead_ratio": statistics.median(traced) / statistics.median(plain) - 1.0,
    }


def settle(tally: Tally, runner, op, res, err: str | None) -> None:
    """Count one executed operation: its exception, or else whatever
    its oracle check reports, makes it a failed operation."""
    tally.record(op.op_id, err or runner.check(op, res))


def expected_in_child(workload: str, data_dir: str) -> tuple[dict, dict]:
    """The workload's oracle results, computed once per seed in a child
    process: DuckDB's memory stays out of this process's peak RSS, and
    the registry import stays cold for the set-up. A plain subprocess,
    not multiprocessing: multiprocessing leaves its resource-tracker
    process running past this process's exit."""
    import pickle
    import subprocess

    out = os.path.join(os.path.dirname(data_dir), "expected.pickle")
    code = (
        "import pickle, sys\n"
        "from perfbench.workloads import oracle_expected\n"
        "with open(sys.argv[3], 'wb') as fh:\n"
        "    pickle.dump(oracle_expected(sys.argv[1], sys.argv[2]), fh)\n"
    )
    # run() waits for the child on every path, and kills it first if
    # this process is interrupted
    subprocess.run([sys.executable, "-c", code, workload, data_dir, out], cwd=ROOT, check=True)
    with open(out, "rb") as fh:
        return pickle.load(fh)


def _setup(runner, tally: Tally) -> dict[str, float]:
    """Set the engine up once, cold: get_spark (which launches the JVM),
    the registry import and its query table, and the workload's warm
    query as the first query the JVM runs. Returns the parts' times."""
    from pac_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=SESSION_CONF)
    t1 = time.perf_counter()
    # imports every plans module and the operators behind it
    from pac_spark.plans import registry

    registry.all_specs()
    runner.spark, runner.queries = spark, registry.queries()
    t2 = time.perf_counter()
    runner.tracer.bind(spark.sparkContext)
    res, err = _attempt(runner.warm)
    t3 = time.perf_counter()
    tally.record("setup", err or runner.check_warm(res))
    return {"get_spark_s": t1 - t0, "registry_s": t2 - t1, "warm_op_s": t3 - t2}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.inputs import generate
    from perfbench.trace import Tracer, install_layer_wrappers
    from perfbench.workloads import WORKLOADS, Runner, disk_usage, plan_passes

    w = WORKLOADS[workload]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    runner = None
    try:
        pin_env(work, cpus)
        data_dir = generate(os.path.join(work, "data"), w.sf, seed, w.tables)

        tracer = Tracer()
        install_layer_wrappers(tracer)
        from pac_spark import cache

        runner = Runner(w, data_dir, os.path.join(work, "out"), tracer)
        runner.expected, runner.expected_by_key = expected_in_child(workload, data_dir)
        tally = Tally()
        setup = _setup(runner, tally)
        spark = runner.spark
        passes = plan_passes(workload, seed, 64, keys=runner.keys())

        def one_pass(ops, traced: bool) -> dict:
            runner.reset_outputs()
            cache.release_caches(all_generations=True)
            mark = len(tracer.spans)
            gc0 = gc_ms(spark)
            tracer.enabled = traced
            results = []
            p0 = time.perf_counter()
            for op in ops:
                o0 = time.perf_counter()
                res, err = _attempt(runner.execute, op)
                results.append((op, res, err, time.perf_counter() - o0))
            wall = time.perf_counter() - p0
            tracer.enabled = False
            spans = tracer.spans[mark:]
            if traced:
                tracer.collect_spark(spans)
            for op, res, err, _ in results:
                settle(tally, runner, op, res, err)
            return {
                "wall": wall,
                "ops": [(op.kind, dt, res.rows if res else 0) for op, res, _, dt in results],
                "gc_s": (gc_ms(spark) - gc0) / 1e3,
                "spans": spans,
                "traced": traced,
            }

        warm_pass_s = []
        for ops in passes[: w.warm_passes]:
            t_warm = time.perf_counter()
            one_pass(ops, traced=False)
            warm_pass_s.append(time.perf_counter() - t_warm)

        timed: list[dict] = []
        start = time.perf_counter()
        # a traced run alternates traced and untraced passes
        min_passes = 2 if trace else 1
        while len(timed) < min_passes or time.perf_counter() - start < seconds:
            ops = passes[w.warm_passes + len(timed) % (len(passes) - w.warm_passes)]
            timed.append(one_pass(ops, traced=trace and len(timed) % 2 == 0))
        if runner.verifies_tree:
            mismatch_text, err = _attempt(runner.verify_tree)
            tally.record("verify_tree", err or mismatch_text)

        disk = disk_usage(runner.out_dir)
        metrics = end_to_end_metrics(sum(setup.values()), timed, peak_rss_mb())
        metrics.update(workload_metrics(timed, disk, tally))
        detail = {}
        if trace:
            traced = [p for p in timed if p["traced"]]
            t_spans = [s for p in traced for s in p["spans"]]
            t_rows = sum(r for p in traced for _, _, r in p["ops"])
            t_wall = sum(p["wall"] for p in traced)
            metrics.update(layer_metrics(t_spans, len(traced), t_rows, t_wall, cpus))
            metrics.update(trace_extra_metrics(setup, timed, disk))
            own = self_times(t_spans)
            detail["self_s_by_layer"] = self_time_by_layer(t_spans, len(traced))
            detail["spans"] = [{**vars(s), "self_s": own[s.span_id]} for s in t_spans]
        stamp = {
            "bench_version": BENCH_VERSION,
            "workload": workload,
            "sf": w.sf,
            "seed": seed,
            "cpus": cpus,
            "driver_mem": DRIVER_MEM,
            "spark_version": spark.version,
            "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
            "traced": trace,
            "seconds": seconds,
        }
        return {
            "stamp": stamp,
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "errors": tally.errors,
            "metrics": metrics,
            "timings": {
                "latency_s": timing(op_latencies(timed)),
                "read_s": timing([dt for p in timed for kind, dt, _ in p["ops"] if kind == "read"]),
                "pass_s": timing([p["wall"] for p in timed if not p["traced"]]),
            },
            "setup": setup,
            # calls through the catalog/cache wrappers over the whole run
            "wrapper_calls": dict(tracer.calls),
            "warm_pass_s": warm_pass_s,
            "passes": [
                {"traced": p["traced"], "wall_s": p["wall"], "gc_s": p["gc_s"], "ops": p["ops"]}
                for p in timed
            ],
            "detail": detail,
        }
    finally:
        if runner is not None and runner.spark is not None:
            _attempt(cache.release_caches, True)
            _attempt(runner.spark.stop)
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


def result_line(result: dict, declared: dict, trace: bool) -> dict:
    """The final stdout object: exactly the declared metrics of the
    run's kind, each with its unit."""
    names = declared["per_layer" if trace else "end_to_end"]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        raise KeyError(f"metrics declared but not measured: {missing}")
    return {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            n: {"value": float(result["metrics"][n]), "unit": unit} for n, unit in names.items()
        },
    }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pac_spark", "__init__.py")):
        print(f"error: the engine sources (pac_spark/) are not under {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so run()'s cleanup stops the
    # JVM and waits for it before the process exits
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    declared = declared_metrics()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    line = result_line(result, declared, bool(args.trace))

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = result.pop("detail")
    write_atomic(os.path.join(RESULTS, f"{stem}.json"), result)
    if detail:
        write_atomic(os.path.join(RESULTS, f"{stem}-spans.json"), detail)

    units = {**declared["end_to_end"], **declared["per_layer"]}
    stamp = result["stamp"]
    print(
        f"# {args.workload} sf={stamp['sf']} seed={args.seed} cpus={stamp['cpus']} "
        f"traced={bool(args.trace)} spark={stamp['spark_version']} java={stamp['java_version']}"
    )
    for name, value in result["metrics"].items():
        print(f"{name}: {value:.6g} {units.get(name, '')}")
    for kind, t in result["timings"].items():
        if isinstance(t, dict) and t["n"]:
            tail = f"p{t['tail_pct']:g}={t['tail']:.4f}s" if t["tail_pct"] else "tail: n/a"
            print(f"{kind}: median={t['median']:.4f}s {tail} n={t['n']}")
    verdict = "correct" if result["correct"] else f"WRONG ({result['failed']} failed)"
    print(f"outputs: {verdict}, {result['attempted']} operations checked against the oracle")
    for err in result["errors"]:
        print(f"  failed {err}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
